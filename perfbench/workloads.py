"""The three workloads, their output checks and their metrics.

Each workload is a closed loop with one caller: the next op starts when
the previous one has returned. It runs until ``seconds`` have passed
and at least its minimum number of ops is done. Every op's output is
checked against ``blacklab_spark.oracle`` or against counts taken from
the corpus, outside the timed region; an exception or a mismatch is a
failed op.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from collections import Counter, OrderedDict

from pyspark.sql import functions as F

import inputs
from tracing import non_jvm_share

BUILD_STAGES = ("doc_meta", "runs", "terms", "postings")
K = 10
MAX_BUILDS = 50
# query: 16 top-k ops (11 fresh) and 8 positional ops, every kind once
MIN_OPS = {"build": 3, "query": 24, "ingest": 2}


# -- small helpers ------------------------------------------------------
def ms_since(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    xs = list(xs)
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Ctx:
    """What a workload needs: the session, tracer, work dir and inputs."""

    def __init__(self, spark, tracer, work: str, seconds: int, oracle):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seconds, self.oracle = seconds, oracle
        self.failures: list[dict] = []
        self.attempted = 0

    def check(self, op: int, what: str, ok: bool, detail=None) -> bool:
        if not ok:
            self.failures.append({"op": op, "check": what,
                                  "detail": repr(detail)[:300]})
        return ok

    def loop(self, workload: str, limit: int):
        """Yield op numbers until the time is up and the minimum is met,
        or ``limit`` ops are done."""
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < limit and (i < MIN_OPS[workload]
                             or time.perf_counter() < t_end):
            yield i
            i += 1


def run_op(ctx: Ctx, op: int, name: str, fn, *args):
    """Count an op as attempted; an exception fails it. Returns fn's
    result or None."""
    ctx.attempted += 1
    try:
        return fn(*args)
    except Exception as e:  # one failed op must not end the run
        ctx.failures.append({"op": op, "check": f"{name} raised",
                             "detail": f"{type(e).__name__}: {e}"[:300]})
        return None


def build_once(ctx: Ctx, out: str, df, name: str = "build_index"):
    """Timed ``build_index`` of ``df`` into ``out``."""
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    shutil.rmtree(out, ignore_errors=True)
    with ctx.tracer.span(name, jobs=True) as sp:
        t0 = time.perf_counter()
        manifest = build_index(ctx.spark, df, out, BuildConfig())
        ms = ms_since(t0)
    return manifest, ms, sp


def check_manifest(ctx: Ctx, op: int, m: dict, want: dict) -> bool:
    got = {"n_docs": m["stats"]["n_docs"],
           "total_tokens": m["stats"]["total_tokens"],
           "vocab": m["stages"]["terms"]["rows"]}
    return ctx.check(op, "build stats", got == want, (got, want))


def build_layer(m: dict, sp, turns: int, index_dir: str) -> dict:
    """The build layer's record for one build: stage walls from the
    manifest, artifact bytes from disk, counters from the job group."""
    rec = {f"{s}.wall_s": m["stages"][s]["duration_sec"]
           for s in BUILD_STAGES}
    rec.update({f"{s}.bytes_per_turn":
                dir_bytes(os.path.join(index_dir, s)) / turns
                for s in BUILD_STAGES})
    c = sp.counters if sp is not None else None
    if c:
        rec.update({
            "task_us_per_turn": c["run_ms"] * 1e3 / turns,
            "jvm_cpu_us_per_turn": c["cpu_ms"] * 1e3 / turns,
            "gc_s": c["gc_ms"] / 1e3,
            "non_jvm_share": non_jvm_share(c),
            "shuffle_write_bytes_per_turn": c["shuffle_write_bytes"] / turns,
            "shuffle_read_bytes_per_turn": c["shuffle_read_bytes"] / turns,
            "spill_bytes": c["spill_bytes"],
            "peak_exec_mem_bytes": c["peak_exec_mem_bytes"],
            "jobs": c["jobs"], "tasks": c["tasks"]})
    return rec


# -- build --------------------------------------------------------------
def build(ctx: Ctx, setup: dict) -> dict:
    """Repeated full builds of the corpus; no query code runs."""
    df = setup["corpus_df"]
    want = setup["counts"]
    turns = want["n_docs"]
    out = os.path.join(ctx.work, "idx_build")
    times, sizes, layers = [], [], []
    for op in ctx.loop("build", MAX_BUILDS):
        r = run_op(ctx, op, "build_index", build_once, ctx, out, df)
        if r is None:
            continue
        m, ms, sp = r
        if check_manifest(ctx, op, m, want):
            times.append(ms)
        sizes.append(dir_bytes(out) / turns)
        layers.append(build_layer(m, sp, turns, out))
    p50 = median(times)
    return {"main_ms": times, "kinds": {"build_index": times},
            "bytes_per_turn": median(sizes), "build_layers": layers,
            "details": {"build_turns_per_s": turns / (p50 / 1e3)
                        if p50 else 0.0,
                        "turns": turns}}


# -- query --------------------------------------------------------------
def _predicate(filt: dict):
    if not filt:
        return None
    if "role" in filt:
        return lambda m: m["role"] == filt["role"]
    return lambda m: m["tool"] is not None


def plan_query(eng, q: dict):
    kind = q["kind"]
    if kind == "topk":
        return eng.topk(list(q["terms"]), k=K, **q["filter"])
    if kind == "phrase":
        return eng.phrase_hits(list(q["terms"]))
    if kind == "colloc":
        return eng.collocations(q["term"], window=inputs.COLLOC_WINDOW)
    if kind == "group":
        return eng.group_hits_by_context_word(eng.term_hits(q["term"]),
                                              offset=1)
    return eng.find(q["cql"])


def execute(df, kind: str):
    if kind == "topk":
        return [(r["doc_id"], r["score"]) for r in df.collect()]
    if kind == "colloc":
        return {r["term"]: r["count"] for r in df.collect()}
    if kind == "group":
        return {r["group_key"]: r["count"] for r in df.collect()}
    return df.count()


def expected(oracle, q: dict):
    """The oracle's answer for ``q`` (top-k rows, a hit count, or a
    word → count table)."""
    from blacklab_spark import oracle as O
    kind = q["kind"]
    if kind == "topk":
        return O.brute_topk(oracle, list(q["terms"]), k=K,
                            predicate=_predicate(q["filter"]))
    if kind == "phrase":
        return len(O.phrase_hits(oracle, list(q["terms"])))
    if kind == "colloc":
        return O.collocations(oracle, q["term"], inputs.COLLOC_WINDOW)
    if kind == "regex":
        return sum(oracle.cf(t) for t in oracle.postings
                   if t.startswith(q["term"]))
    if kind == "or":
        return sum(oracle.cf(t) for t in set(q["terms"]))
    toks_of = oracle.tokens
    if kind == "repeat":
        # every span of one or more consecutive occurrences is a hit:
        # a run of length L holds L·(L+1)/2 of them
        n = 0
        for d in oracle.postings.get(q["term"], {}):
            run = 0
            for tok in toks_of[d] + [None]:
                if tok == q["term"]:
                    run += 1
                else:
                    n += run * (run + 1) // 2
                    run = 0
        return n
    if kind == "ccnot":
        x, y = q["terms"]
        return sum(1 for d, ps in oracle.postings.get(y, {}).items()
                   for p in ps if p > 0 and toks_of[d][p - 1] != x)
    if kind == "group":
        c: Counter = Counter()
        for d, ps in oracle.postings.get(q["term"], {}).items():
            toks = toks_of[d]
            c.update(toks[p + 1] for p in ps if p + 1 < len(toks))
        return dict(c)
    raise ValueError(kind)


def same_answer(kind: str, got, want) -> bool:
    if kind == "topk":
        return ([d for d, _ in got] == [d for d, _ in want]
                and all(abs(a - b) <= 1e-6
                        for (_, a), (_, b) in zip(got, want)))
    return got == want


def query_op(ctx: Ctx, eng, q: dict, op: int, name: str):
    """Plan then execute one query. Returns the answer, the latency in
    ms, the planned DataFrame and the plan and exec spans."""
    with ctx.tracer.span(name, op=op):
        t0 = time.perf_counter()
        with ctx.tracer.span("plan", jobs=True) as plan_sp:
            df = plan_query(eng, q)
        with ctx.tracer.span("exec", jobs=True) as exec_sp:
            got = execute(df, q["kind"])
        ms = ms_since(t0)
    return got, ms, df, plan_sp, exec_sp


def query(ctx: Ctx, setup: dict) -> dict:
    """Interleaved top-k and positional ops against one index."""
    eng = setup["engine"]
    stream = setup["stream"]
    for i, q in enumerate(stream["warmup"]):
        query_op(ctx, eng, q, -1 - i, "warmup")
    # an emulation of the engine's LRU plan cache (top-k and find share
    # it) classifies each top-k op as fresh or repeat
    lru: OrderedDict = OrderedDict()
    handles: dict = {}
    answers: dict = {}
    lat: dict = {"topk_fresh": [], "topk_repeat": [], "cql": []}
    by_kind: dict = {}
    plan_calls = plan_hits = 0
    layer, issued = [], []
    for op in ctx.loop("query", len(stream["ops"])):
        q = stream["ops"][op]
        issued.append(q)
        kind, key = q["kind"], inputs.query_key(q)
        cached = kind == "topk" or "cql" in q
        cls = ("topk_repeat" if key in lru else "topk_fresh"
               ) if kind == "topk" else kind
        r = run_op(ctx, op, kind, query_op, ctx, eng, q, op, kind)
        if cached:
            lru[key] = True
            lru.move_to_end(key)
            while len(lru) > inputs.PLAN_CACHE:
                lru.popitem(last=False)
        if r is None:
            continue
        got, ms, df, plan_sp, exec_sp = r
        if key not in answers:
            answers[key] = expected(ctx.oracle, q)
        if not ctx.check(op, kind, same_answer(kind, got, answers[key]),
                         (q, got)):
            continue
        lat[cls if kind == "topk" else "cql"].append(ms)
        by_kind.setdefault(cls, []).append(ms)
        if plan_sp is not None:
            if cached:
                plan_calls += 1
                plan_hits += (handles.get(key) is df
                              and plan_sp.counters["jobs"] == 0)
                handles[key] = df
            layer.append((cls, plan_sp, exec_sp))
    topk_ops = [q for q in issued if q["kind"] == "topk"]
    drawn = Counter(b for q in topk_ops
                    for b in inputs.TOPK_SHAPES[q["shape"]][0])
    n_topk = len(lat["topk_fresh"]) + len(lat["topk_repeat"])
    props = {
        "topk_pool": inputs.TOPK_POOL, "plan_cache": inputs.PLAN_CACHE,
        "zipf_s": inputs.ZIPF_S, "repeat_every": inputs.REPEAT_EVERY,
        "repeat_share": len(lat["topk_repeat"]) / max(1, n_topk),
        "band_sizes": {b: len(t) for b, t in stream["bands"].items()},
        "band_mix": {b: drawn[b] / max(1, sum(drawn.values()))
                     for b, _ in inputs.BANDS},
        "filter_share": (sum(1 for q in topk_ops if q["filter"])
                         / max(1, len(topk_ops))),
    }
    return {"main_ms": lat["topk_fresh"], "kinds": by_kind,
            "bytes_per_turn": setup["index_bytes_per_turn"],
            "build_layers": setup["build_layers"],
            "query_layers": layer, "plan_cache": (plan_hits, plan_calls),
            "details": {
                "topk_fresh_p50_ms": median(lat["topk_fresh"]),
                "topk_fresh_p90_ms": p90(lat["topk_fresh"]),
                "topk_repeat_p50_ms": median(lat["topk_repeat"]),
                "cql_p50_ms": median(lat["cql"]),
                "cql_p90_ms": p90(lat["cql"]),
                "per_kind_p50_ms": {k: median(v)
                                    for k, v in by_kind.items()},
                "properties": props}}


# -- ingest -------------------------------------------------------------
def timed_call(ctx: Ctx, name: str, fn, *args):
    with ctx.tracer.span(name, jobs=True) as sp:
        t0 = time.perf_counter()
        out = fn(*args)
        ms = ms_since(t0)
    return out, ms, sp


def delta_topk(ctx: Ctx, deng, terms: list[str]):
    with ctx.tracer.span("topk"):
        t0 = time.perf_counter()
        with ctx.tracer.span("plan", jobs=True) as plan_sp:
            df = deng.topk(terms, k=K)
        with ctx.tracer.span("exec", jobs=True) as exec_sp:
            got = [(r["doc_id"], r["score"]) for r in df.collect()]
        ms = ms_since(t0)
    return got, ms, plan_sp, exec_sp


def _reset(main_dir: str) -> None:
    for d in ("_deltas", "_deletes"):
        shutil.rmtree(os.path.join(main_dir, d), ignore_errors=True)


def ingest(ctx: Ctx, setup: dict) -> dict:
    """Append a batch, delete two conversations, query through the
    delta engine; then restore the set-up index, so every step sees
    the same index shape however many steps the run makes."""
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.delete import delete_docs
    from blacklab_spark.oracle import brute_topk
    from blacklab_spark.streaming.ingest import (DeltaSearchEngine,
                                                 append_delta)
    main_dir = setup["index_dir"]
    index = setup["engine"].index
    n_main = ctx.oracle.n_docs
    lat: dict = {"append": [], "delete": [], "mutated_topk": []}
    layer: dict = {"append": [], "delete": [], "open": [], "topk": [],
                   "build": []}
    sizes, batch_turns, found = [], [], 0
    for op in ctx.loop("ingest", len(setup["steps"])):
        step = setup["steps"][op]
        n_batch = len(step["batch_rows"])
        batch = setup["batch_df"].filter(
            F.col("conv_id").isin(step["batch_convs"]))
        cond = "conv_id IN ({})".format(
            ", ".join(f"'{c}'" for c in step["victims"]))
        with ctx.tracer.span("step", op=op):
            app = run_op(ctx, op, "append_delta", timed_call, ctx,
                         "append_delta", append_delta, ctx.spark,
                         main_dir, batch, BuildConfig())
            dele = run_op(ctx, op, "delete_docs", timed_call, ctx,
                          "delete_docs", delete_docs, index, cond)
            opened = run_op(ctx, op, "delta_open", timed_call, ctx,
                            "delta_open", DeltaSearchEngine, ctx.spark,
                            main_dir)
            answers = [run_op(ctx, op, "delta topk", delta_topk, ctx,
                              opened[0], list(t)) if opened else None
                       for t in step["queries"]]
        if app is not None:
            delta_dir, ms, sp = app
            with open(os.path.join(delta_dir, "_index_meta.json")) as f:
                m = json.load(f)
            if check_manifest(ctx, op, m, step["counts"]):
                lat["append"].append(ms)
                batch_turns.append(n_batch)
                layer["append"].append((ms, n_batch, sp))
            layer["build"].append(build_layer(m, sp, n_batch, delta_dir))
        sizes.append(dir_bytes(main_dir) / (n_main + n_batch))
        _reset(main_dir)
        # -- checks, untimed --
        if dele is not None:
            n_del, ms, _ = dele
            if ctx.check(op, "delete count",
                         n_del == len(step["victim_docs"]),
                         (n_del, step["victim_docs"])):
                lat["delete"].append(ms)
                layer["delete"].append((ms, n_del))
        if opened is not None:
            layer["open"].append(opened[1])
        union = inputs.union_oracle(ctx.oracle, step["batch_rows"])
        gone = set(step["victim_docs"])
        for terms, r in zip(step["queries"], answers):
            if r is None:
                continue
            got, ms, plan_sp, exec_sp = r
            want = brute_topk(union, list(terms), k=K,
                              predicate=lambda m: m["conv_id"]
                              not in step["victims"])
            ids = {d for d, _ in got}
            if ctx.check(op, "mutated topk",
                         same_answer("topk", got, want)
                         and not ids & gone, (terms, got, want)):
                lat["mutated_topk"].append(ms)
                layer["topk"].append((plan_sp, exec_sp, ms))
        if answers[1] is not None:
            found += any(d >= n_main for d, _ in answers[1][0])
    return {"main_ms": lat["append"], "kinds": lat,
            "bytes_per_turn": median(sizes),
            "build_layers": layer["build"], "ingest_layers": layer,
            "details": {
                "append_turns_per_s": median(
                    n / (t / 1e3) for t, n in zip(lat["append"],
                                                  batch_turns)),
                "delete_p50_ms": median(lat["delete"]),
                "mutated_topk_p50_ms": median(lat["mutated_topk"]),
                "properties": {
                    "batch_convs": inputs.BATCH_CONVS,
                    "batch_turns": batch_turns,
                    "deleted_docs_per_step": [
                        len(s["victim_docs"])
                        for s in setup["steps"][:len(batch_turns)]],
                    "steps_with_appended_doc_in_topk": found}}}
