"""Document delete (tombstones) + compaction — IndexTool delete
analog (reference: tools/.../IndexTool.java:65, Lucene tombstones)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blacklab_spark.build import build_index
from blacklab_spark.config import BuildConfig
from blacklab_spark.delete import compact, delete_docs
from blacklab_spark.engine import SearchEngine
from blacklab_spark.sources.transcripts import gen_transcripts_pandas


@pytest.fixture(scope="module")
def del_engine(spark, tmp_path_factory):
    """A private tiny index (deletes mutate state — never share the
    session-scoped fixtures)."""
    out = str(tmp_path_factory.mktemp("idx") / "deletable")
    pdf = gen_transcripts_pandas("tiny", seed=42)
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=4)
    build_index(spark, spark.createDataFrame(pdf), out, cfg)
    return SearchEngine.open(spark, out)


def test_delete_hides_docs_everywhere(del_engine):
    eng = del_engine
    idx = eng.index
    before_docs = idx.doc_meta.count()
    pre = {r["doc_id"]: r["score"]
           for r in eng.scores(["visa"]).collect()}

    victims = {r["doc_id"] for r in
               idx.doc_meta.filter(F.col("conv_id") == "conv00001")
               .select("doc_id").collect()}
    n = delete_docs(idx, "conv_id = 'conv00001'")
    assert n == len(victims) > 0
    assert idx.doc_meta.count() == before_docs - n

    # BM25 (both paths), postings term hits, phrase, CQL — no victims
    for df in (eng.topk(["visa"], k=50, mode="wand"),
               eng.topk(["visa"], k=50, mode="exhaustive"),
               eng.find('"visa"'),
               eng.phrase_hits(["very", "good"], path="postings"),
               eng.find('"very" "good"')):
        got = {r["doc_id"] for r in df.collect()}
        assert not (got & victims)

    # dual-path identity holds under deletes
    a = [(r["doc_id"], r["score"]) for r in
         eng.topk(["visa"], k=20, mode="wand").collect()]
    b = [(r["doc_id"], r["score"]) for r in
         eng.topk(["visa"], k=20, mode="exhaustive").collect()]
    assert [x[0] for x in a] == [x[0] for x in b]
    for x, y in zip(a, b):
        assert x[1] == pytest.approx(y[1], abs=1e-12)

    # Lucene-tombstone semantics: surviving docs keep their PRE-delete
    # scores (stats stay stale until compaction)
    post = {r["doc_id"]: r["score"]
            for r in eng.scores(["visa"]).collect()}
    for d, s in post.items():
        assert s == pytest.approx(pre[d], abs=1e-12)

    # idempotent: re-deleting adds nothing
    assert delete_docs(idx, "conv_id = 'conv00001'") == 0


def test_compact_equals_fresh_build(spark, tmp_path, del_engine):
    """compact(expunge tombstones) ≡ building from the surviving
    corpus: same stats, rank/score-identical queries."""
    eng = del_engine
    out = str(tmp_path / "compacted")
    cidx = compact(spark, eng.index.path, out)
    ceng = SearchEngine(cidx)

    fresh_out = str(tmp_path / "fresh")
    pdf = gen_transcripts_pandas("tiny", seed=42)
    surv = spark.createDataFrame(pdf).filter(F.col("conv_id") != "conv00001")
    build_index(spark, surv, fresh_out, cidx.cfg)
    feng = SearchEngine.open(spark, fresh_out)

    assert cidx.n_docs == feng.index.n_docs
    assert cidx.avgdl == pytest.approx(feng.index.avgdl, abs=1e-12)
    a = [(r["conv_id"], r["turn_idx"], r["score"]) for r in
         ceng.topk(["visa", "good"], k=20).collect()]
    b = [(r["conv_id"], r["turn_idx"], r["score"]) for r in
         feng.topk(["visa", "good"], k=20).collect()]
    assert a == b and a


def test_delete_visible_through_delta_engine(spark, tmp_path):
    """Tombstones on a part are honored by the delta-merged engine and
    expunged by streaming compaction."""
    from blacklab_spark.streaming.ingest import (DeltaSearchEngine,
                                                 append_delta, compact as
                                                 stream_compact)
    from blacklab_spark.index import open_index
    main = str(tmp_path / "main")
    pdf = gen_transcripts_pandas("micro", seed=42)
    cfg = BuildConfig(block_size=8, bucket_size=8, num_partitions=2)
    sdf = spark.createDataFrame(pdf)
    build_index(spark, sdf.filter(F.col("conv_id") != "conv00002"),
                main, cfg)
    append_delta(spark, main,
                 sdf.filter(F.col("conv_id") == "conv00002"), cfg)
    idx = open_index(spark, main)
    victims = {r["doc_id"] for r in
               idx.doc_meta.filter(F.col("conv_id") == "conv00000")
               .select("doc_id").collect()}
    assert delete_docs(idx, "conv_id = 'conv00000'") == len(victims) > 0

    deng = DeltaSearchEngine(spark, main)
    got = {r["doc_id"] for r in deng.topk(["visa"], k=50).collect()}
    assert not (got & victims)

    out = str(tmp_path / "compacted_stream")
    stream_compact(spark, main, out, cfg)
    ceng = SearchEngine.open(spark, out)
    assert ceng.index.doc_meta.filter(
        F.col("conv_id") == "conv00000").count() == 0
    assert ceng.index.doc_meta.filter(
        F.col("conv_id") == "conv00002").count() > 0


def test_compact_carries_stored_relations(spark, tmp_path,
                                          assert_artifact_schemas):
    """compact() must carry the stored _relations artifact across the
    rebuild with doc ids remapped — it used to silently drop real
    dependency edges (they are not derivable from doc_meta)."""
    import os
    from blacklab_spark.build import build_index
    from blacklab_spark.config import BuildConfig
    from blacklab_spark.delete import compact, delete_docs
    from blacklab_spark.index import open_index
    from blacklab_spark.sources.files import read_conllu
    from blacklab_spark.sources.transcripts import gen_conllu_texts
    src = str(tmp_path / "conllu_src")
    os.makedirs(src)
    for name, content in gen_conllu_texts(seed=42).items():
        with open(os.path.join(src, name), "w") as fh:
            fh.write(content)
    out = str(tmp_path / "idx")
    cfg = BuildConfig(block_size=8, bucket_size=16, num_partitions=2)
    build_index(spark, read_conllu(spark, src), out, cfg)
    idx = open_index(spark, out)
    # delete one conversation, then compact
    victim = idx.doc_meta.select("conv_id").first()["conv_id"]
    delete_docs(idx, f"conv_id = '{victim}'")
    assert_artifact_schemas(out, "doc_meta", "_relations", "_deletes")
    new = compact(spark, out, str(tmp_path / "idx2"))
    assert_artifact_schemas(new.path, "_relations")
    stored = new.doc_relations_stored
    assert stored is not None
    # expected: surviving edges with ids remapped via (conv, turn)
    old_edges = (idx.doc_relations_stored
                 .join(idx.doc_meta.select("doc_id", "conv_id",
                                           "turn_idx"), "doc_id")
                 .drop("doc_id"))
    new_edges = (stored
                 .join(new.doc_meta.select("doc_id", "conv_id",
                                           "turn_idx"), "doc_id")
                 .drop("doc_id"))
    a = sorted(map(tuple, old_edges.collect()))
    b = sorted(map(tuple, new_edges.collect()))
    assert a == b and b
    assert not any(r[-2] == victim for r in b)  # victim's edges gone
