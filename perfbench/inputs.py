"""Seeded inputs: the corpus, the oracle over it, and the op streams.

Everything here is a pure function of the workload seed. The engine
sees only what these functions produce: a transcript table on disk and
one query, delete predicate or append batch at a time.
"""

from __future__ import annotations

import random
from collections import ChainMap, Counter
from functools import cached_property

import pyarrow.parquet as pq

from blacklab_spark.oracle import OracleIndex, build_oracle_index

# Conversations in the main corpus (≈54 turns each, so ≈3.2k turns
# and ≈75k tokens): small enough that every run's fixed set-up (JVM,
# Python workers, a cold build) leaves time to measure; see README.md.
N_CONVS = 60
# Conversations appended per ingest step.
BATCH_CONVS = 5
# Top-k pool several times the engine's 64-entry plan cache.
PLAN_CACHE = 64
TOPK_POOL = 5 * PLAN_CACHE
ZIPF_S = 1.3
# every third top-k op repeats an earlier one: a fixed repeat share of 1/3
REPEAT_EVERY = 3
# df bands: (name, lower df edge as a share of n_docs); terms with
# df < 2 are left out
BANDS = (("rare", 0.0), ("mid", 0.001), ("common", 0.01), ("hot", 0.1))
# Top-k query shapes: the df band of each term, and the filter. Fresh
# top-k ops cycle through them in this order, so every run has the same
# mix of shapes and only the terms depend on the seed.
TOPK_SHAPES = (
    (("mid",), {}),
    (("rare", "common"), {}),
    (("mid", "common", "hot"), {}),
    (("mid", "rare"), {"role": "user"}),
    (("rare",), {}),
    (("common", "mid"), {"tool": True}),
    (("common",), {}),
    (("rare", "mid", "common"), {"role": "assistant"}),
)
# op cycle of the query workload: two top-k ops, then one positional
OP_CYCLE = ("topk", "topk", "positional")
POSITIONAL_KINDS = ("phrase", "repeat", "regex", "or", "ccnot",
                    "colloc", "group")
COLLOC_WINDOW = 5


class Oracle(OracleIndex):
    """``OracleIndex`` whose avgdl is computed once; ``brute_topk`` reads
    it once per scored doc."""

    @cached_property
    def avgdl(self) -> float:
        return sum(self.dl.values()) / max(1, self.n_docs)


def generate_corpus(spark, seed: int, n_convs: int, path: str) -> None:
    from blacklab_spark.sources.transcripts import gen_transcripts_spark
    (gen_transcripts_spark(spark, "bench", seed=seed, n_convs=n_convs)
     .write.mode("overwrite").parquet(path))


def read_rows(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def load_oracle(rows: list[dict]) -> Oracle:
    return Oracle(**vars(build_oracle_index(rows)))


class _UnionPostings:
    """term → {doc_id: positions} over two disjoint doc-id ranges."""

    def __init__(self, a: dict, b: dict):
        self.a, self.b = a, b

    def get(self, term, default=None):
        pa, pb = self.a.get(term), self.b.get(term)
        if pa is None and pb is None:
            return default
        return {**(pa or {}), **(pb or {})}


def union_oracle(main: Oracle, batch_rows: list[dict]) -> Oracle:
    """Oracle of main + one appended batch, the batch's doc ids shifted
    past main's — the ids ``append_delta`` gives the first delta."""
    off = main.n_docs
    b = build_oracle_index(batch_rows)
    shift = lambda d: {k + off: v for k, v in d.items()}  # noqa: E731
    return Oracle(
        doc_ids=main.doc_ids + [d + off for d in b.doc_ids],
        tokens=ChainMap(main.tokens, shift(b.tokens)),
        postings=_UnionPostings(main.postings,
                                {t: shift(p) for t, p in b.postings.items()}),
        dl=ChainMap(main.dl, shift(b.dl)),
        meta=ChainMap(main.meta, shift(b.meta)))


def df_bands(oracle: Oracle) -> dict[str, list[str]]:
    n = oracle.n_docs
    out: dict[str, list[str]] = {b: [] for b, _ in BANDS}
    for t in sorted(oracle.postings):
        df = oracle.df(t)
        if df >= 2:
            out[[b for b, lo in BANDS if df >= lo * n][-1]].append(t)
    return out


def topk_query(rng: random.Random, bands: dict, shape: int) -> dict:
    band_of_term, filt = TOPK_SHAPES[shape]
    return {"kind": "topk", "shape": shape, "filter": filt,
            "terms": tuple(rng.choice(bands[b]) for b in band_of_term)}


def query_key(q: dict) -> tuple:
    return (q["kind"], q.get("terms"), tuple(sorted(q.get("filter", {})
                                                     .items())),
            q.get("cql"), q.get("term"))


def positional_query(kind: str, rng: random.Random, oracle: Oracle,
                     bands: dict) -> dict:
    mid_or_common = bands["mid"] + bands["common"]
    if kind == "phrase":
        while True:
            toks = oracle.tokens[rng.randrange(oracle.n_docs)]
            if len(toks) >= 2:
                p = rng.randrange(len(toks) - 1)
                return {"kind": kind, "terms": tuple(toks[p:p + 2])}
    if kind == "repeat":
        t = rng.choice(bands["hot"] + bands["common"])
        return {"kind": kind, "term": t, "cql": f'"{t}"+'}
    if kind == "regex":
        prefix = rng.choice(mid_or_common)[:2]
        return {"kind": kind, "term": prefix,
                "cql": f'[word="{prefix}.*"]'}
    if kind == "or":
        a, b = rng.sample(bands["rare"] + bands["mid"], 2)
        return {"kind": kind, "terms": (a, b), "cql": f'"{a}" | "{b}"'}
    if kind == "ccnot":
        x, y = rng.choice(bands["hot"]), rng.choice(mid_or_common)
        return {"kind": kind, "terms": (x, y),
                "cql": f'[word!="{x}"] "{y}"'}
    if kind in ("colloc", "group"):
        return {"kind": kind, "term": rng.choice(mid_or_common)}
    raise ValueError(kind)


def query_stream(seed: int, oracle: Oracle, n_ops: int) -> dict:
    """The ``query`` workload's op stream and the warm-up ops.

    Ops follow OP_CYCLE. Every REPEAT_EVERY-th top-k op re-issues an
    earlier top-k query, so the repeat share is fixed; the others issue
    a pool query not issued before, of the next shape in TOPK_SHAPES.
    Both draws are Zipf-like (exponent ZIPF_S) over pool rank, from a
    pool of TOPK_POOL distinct queries. Positional ops rotate through
    POSITIONAL_KINDS in a fixed order, each a query not issued before.
    Warm-up ops come from the same distributions but are outside every
    pool."""
    rng = random.Random(seed)
    bands = df_bands(oracle)
    seen: set = set()

    def fresh(make):
        while True:
            q = make()
            if query_key(q) not in seen:
                seen.add(query_key(q))
                return q

    n_shapes = len(TOPK_SHAPES)
    pool = [fresh(lambda: topk_query(rng, bands, r % n_shapes))
            for r in range(TOPK_POOL)]
    unissued, issued = set(range(TOPK_POOL)), []

    def zipf_pick(ranks) -> int:
        ranks = sorted(ranks)
        return rng.choices(ranks, weights=[(r + 1) ** -ZIPF_S
                                           for r in ranks])[0]

    ops, n_topk, n_fresh, n_pos = [], 0, 0, 0
    for i in range(n_ops):
        if OP_CYCLE[i % len(OP_CYCLE)] == "positional":
            kind = POSITIONAL_KINDS[n_pos % len(POSITIONAL_KINDS)]
            n_pos += 1
            ops.append(fresh(lambda: positional_query(kind, rng, oracle,
                                                      bands)))
            continue
        n_topk += 1
        if n_topk % REPEAT_EVERY == 0:
            ops.append(pool[zipf_pick(issued)])
            continue
        r = zipf_pick(r for r in unissued if r % n_shapes
                      == n_fresh % n_shapes)
        n_fresh += 1
        unissued.remove(r)
        issued.append(r)
        ops.append(pool[r])
    warmup = ([fresh(lambda: topk_query(rng, bands, shape))
               for shape in (0, 2, 3, 5)]
              + [fresh(lambda: positional_query(kind, rng, oracle, bands))
                 for kind in ("or", "group")])
    return {"ops": ops, "warmup": warmup, "bands": bands}


def ingest_steps(seed: int, oracle: Oracle, batch_rows: list[dict],
                 n_steps: int) -> list[dict]:
    """Per step: the batch to append (BATCH_CONVS conversations of a
    second corpus), two main conversations to delete, and two top-k
    queries — one drawn from the deleted docs' terms (those docs would
    rank without their tombstones), one from the batch's terms (the
    appended docs must be found)."""
    rng = random.Random(seed + 1)
    convs = sorted({r["conv_id"] for r in oracle.meta.values()})
    by_conv: dict = {}
    for r in batch_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    batch_convs = sorted(by_conv)
    steps = []
    for i in range(n_steps):
        ids = batch_convs[i * BATCH_CONVS:(i + 1) * BATCH_CONVS]
        rows = [r for c in ids for r in by_conv[c]]
        toks = [_toks(r) for r in rows]
        victims = rng.sample(convs, 2)
        vdocs = [d for d, m in oracle.meta.items()
                 if m["conv_id"] in victims]
        steps.append({
            "batch_convs": ids, "batch_rows": rows, "victims": victims,
            "victim_docs": vdocs,
            "counts": {"n_docs": len(rows),
                       "total_tokens": sum(map(len, toks)),
                       "vocab": len({t for ts in toks for t in ts})},
            "queries": [_distinctive_terms(rng, oracle,
                                           [oracle.tokens[d] for d in vdocs]),
                        _distinctive_terms(rng, oracle, toks)]})
    return steps


def _toks(row: dict) -> list[str]:
    from blacklab_spark.tokenizer import py_tokens_insensitive
    return py_tokens_insensitive(row["text"])


def _distinctive_terms(rng: random.Random, oracle: Oracle,
                       docs: list[list[str]]) -> tuple[str, ...]:
    """Two of the rarest (by main-corpus df) terms of ``docs``."""
    counts = Counter(t for toks in docs for t in set(toks))
    ranked = sorted((t for t in counts if oracle.df(t) != 1),
                    key=lambda t: (oracle.df(t), t))[:12]
    return tuple(rng.sample(ranked, min(2, len(ranked))))

