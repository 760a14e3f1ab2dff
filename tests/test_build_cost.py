"""Fixed per-call Spark cost of the index build and its handles.

Arrow-built driver frames (``local_frame`` and the driver ordinal path),
the shared tokenize-spread rule, the manifest the pack tasks report, the
memoized postings relation, and a guard on the jobs one small build submits.
"""

import os

import pytest
from pyspark.sql import functions as F

from llm_rankers_spark.corpus import VOCAB, generate_corpus, generate_queries, with_docid
from llm_rankers_spark.functions.tokenize import spread_for_udf
from llm_rankers_spark.operators import index_build as ib
from llm_rankers_spark.operators.bm25 import search
from llm_rankers_spark.operators.index_build import (
    build_index,
    build_index_from_forward,
    load_index,
    verify_index,
)
from llm_rankers_spark.session import local_frame


def _group_jobs(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _stage_rdd_graphs(sc, job_ids) -> list[str]:
    """The RDD operation graph (DOT text, one node per RDD with its class
    name) of every stage of ``job_ids``."""
    store = sc._jsc.sc().statusStore()
    graph = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph
    return [
        graph.makeDotFile(store.operationGraphForStage(s))
        for j in job_ids
        for s in sc.statusTracker().getJobInfo(j).stageIds
    ]


@pytest.fixture(scope="module")
def small_docs(spark):
    """60 generated docs plus one token-less doc."""
    docs = with_docid(generate_corpus(spark, 60, seed=7)).select("docid", "content")
    empty = local_frame(spark, [("zz_empty", "  ... ")], "docid string, content string")
    return docs.unionByName(empty).persist()


# --- local_frame and the Arrow ordinal path ---------------------------------


def test_local_frame_empty_keeps_schema(spark):
    df = local_frame(spark, [], "docid string, ord long")
    assert df.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [("docid", "string"), ("ord", "bigint")]


def test_local_frame_is_a_local_relation(spark):
    df = local_frame(spark, [("é", 1), ("a", None)], "docid string, ord long")
    assert "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
    assert sorted(df.collect(), key=lambda r: r["docid"]) == [("a", None), ("é", 1)]


def test_ordinals_auto_empty_input(spark):
    ords, n, slim = ib._ordinals_auto(local_frame(spark, [], "docid string"))
    assert (n, slim) == (0, None)
    assert ords.count() == 0 and ords.columns == ["docid", "ord"]


def test_ordinals_are_ranks_of_sorted_docids(spark):
    import random

    rng = random.Random(3)
    ids = [f"d{rng.randrange(10**6)}_{i}" for i in range(500)]
    rng.shuffle(ids)
    ords, n, slim = ib._ordinals_auto(local_frame(spark, [(d,) for d in ids], "docid string"))
    assert n == 500 and slim is None  # driver path
    got = {r["docid"]: r["ord"] for r in ords.collect()}
    assert got == {d: i for i, d in enumerate(sorted(ids))}


def test_non_ascii_docids_driver_order_equals_spark_order(spark, monkeypatch):
    # the driver sorts Python strings (code points); the distributed path
    # sorts in Spark (UTF-8 bytes): both must give the same ordinals
    ids = ["é", "e", "z", "Ω", "日本", "ä", "a", "é", "𝔘", "ÿ", "Z", "_"]
    frame = local_frame(spark, [(d,) for d in ids], "docid string")
    ords, _, slim = ib._ordinals_auto(frame)
    assert slim is None
    driver = {r["docid"]: r["ord"] for r in ords.collect()}
    monkeypatch.setattr(ib, "DRIVER_ORDINALS_MAX", 0)
    ords2, _, slim2 = ib._ordinals_auto(frame)
    assert slim2 is not None
    distributed = {r["docid"]: r["ord"] for r in ords2.collect()}
    slim2.unpersist()
    assert driver == distributed == {d: i for i, d in enumerate(sorted(ids))}


def test_ordinals_extra_columns_keep_null_sha(spark):
    rows = [("b", 3, None), ("a", 0, "f" * 64), ("c", 5, None)]
    frame = local_frame(spark, rows, "docid string, dl long, content_sha256 string")
    ords, n, slim = ib._ordinals_auto(frame, extra_cols=(("dl", "long"), ("content_sha256", "string")))
    assert (n, slim) == (3, None)
    assert sorted(tuple(r) for r in ords.collect()) == [
        ("a", 0, "f" * 64, 0), ("b", 3, None, 1), ("c", 5, None, 2),
    ]


@pytest.mark.parametrize("ids", [["d1", "d2", "d1"], ["d1", None, "d2"]], ids=["duplicate", "null"])
def test_ordinals_fall_back_to_slim_path(spark, ids):
    ords, n, slim = ib._ordinals_auto(local_frame(spark, [(d,) for d in ids], "docid string"))
    assert n == 3 and slim is not None
    assert sorted(r["ord"] for r in ords.collect()) == [0, 1, 2]
    slim.unpersist()


# --- the shared spread rule ---------------------------------------------------


def test_spread_for_udf(spark):
    par = spark.sparkContext.defaultParallelism
    one = spark.range(0, 100, 1, 1)
    assert spread_for_udf(one).rdd.getNumPartitions() == par
    wide = spark.range(0, 100, 1, par)
    assert spread_for_udf(wide) is wide  # already fine enough: no shuffle
    fat = spark.range(0, 10_000, 1, par)  # 2500 rows per split > 2 x 1000
    assert spread_for_udf(fat, n_rows=10_000, rows_per_task=1000).rdd.getNumPartitions() == 10


# --- the manifest reported by the pack tasks ----------------------------------


@pytest.mark.parametrize("num_shards", [1, 8, 256])
@pytest.mark.parametrize("pack_group", ["bucket", "shard_bucket"])
def test_recorded_manifest_equals_recompute(spark, small_docs, tmp_path, num_shards, pack_group):
    idx = build_index(
        small_docs, str(tmp_path / "idx"), tokenizer_mode="simple",
        num_shards=num_shards, pack_group=pack_group,
    )
    assert idx.meta.n_docs == 61  # the token-less doc is in doc_map
    manifest = ib.fsio.read_json(ib._manifest_path(idx.path))["shards"]
    fresh = [
        {"shard": r["shard"], "lists": r["lists"], "postings": r["postings"], "term_crc": r["term_crc"]}
        for r in idx.postings.groupBy("shard").agg(
            F.count("*").alias("lists"), F.sum("n").alias("postings"),
            F.sum(F.crc32(F.col("term"))).alias("term_crc"),
        ).orderBy("shard").collect()
    ]
    # at 256 shards each doc is its own shard, and the token-less one has no list
    assert manifest == fresh and len(fresh) == min(num_shards, 60)
    assert verify_index(idx) == {"ok": True, "mismatches": []}


def test_compaction_manifest_equals_recompute(spark, tmp_path):
    fwd = local_frame(
        spark,
        [("a", "x", 2), ("a", "y", 1), ("b", "x", 1), ("d", "é", 4)],
        "docid string, term string, tf long",
    )
    meta = local_frame(
        spark,
        [("a", 3, "s" * 64), ("b", 1, None), ("c", 0, None), ("d", 4, "t" * 64)],  # c: token-less
        "docid string, dl long, content_sha256 string",
    )
    idx = build_index_from_forward(fwd, meta, str(tmp_path / "cidx"), tokenizer_mode="simple", num_shards=2)
    assert idx.meta.n_docs == 4
    manifest = ib.fsio.read_json(ib._manifest_path(idx.path))["shards"]
    # shard 0 holds docs a, b (lists x, y); shard 1 holds c, d (list é)
    assert [(s["shard"], s["lists"], s["postings"]) for s in manifest] == [(0, 2, 3), (1, 1, 1)]
    assert verify_index(idx) == {"ok": True, "mismatches": []}


def test_manifest_and_meta_reads_no_index_data(spark, tmp_path):
    # an empty dir: any read of postings/ or doc_map/ would fail
    shards = [{"shard": 0, "lists": 2, "postings": 3, "term_crc": 5}]
    idx = ib._manifest_and_meta(spark, str(tmp_path), shards, 2, 1.5, "2:0", 1, 2, "simple", 0.9, 0.4)
    assert ib.fsio.read_json(ib._manifest_path(idx.path))["shards"] == shards


def test_pack_report_merge_is_idempotent():
    param = ib._PackReport()
    g3 = {(3,): {0: (2, 5, 123)}}
    g7 = {(7,): {0: (1, 1, 9), 1: (4, 8, 77)}}
    acc = param.zero({})
    for update in (g3, g7):
        acc = param.addInPlace(acc, update)
    once = ib._manifest_shards(acc)
    assert once == [
        {"shard": 0, "lists": 3, "postings": 6, "term_crc": 132},
        {"shard": 1, "lists": 4, "postings": 8, "term_crc": 77},
    ]
    acc = param.addInPlace(acc, g7)  # a retried task reports its group again
    assert ib._manifest_shards(acc) == once


# --- per-call jobs --------------------------------------------------------------


def test_second_search_on_a_handle_submits_fewer_jobs(spark, small_docs, tmp_path):
    sc = spark.sparkContext
    idx_path = str(tmp_path / "idx")
    build_index(small_docs, idx_path, tokenizer_mode="simple", num_shards=4)
    idx = load_index(spark, idx_path)
    queries = generate_queries(spark, VOCAB, 8, seed=3)
    jobs = []
    for i in range(2):
        group = f"test-memo-{i}"
        sc.setJobGroup(group, group)
        try:
            search(idx, queries, k=5).write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(_group_jobs(sc, group)))
    assert jobs[1] <= jobs[0] - 1, jobs


def test_single_file_build_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    src = str(tmp_path / "batch")
    with_docid(generate_corpus(spark, 1000, seed=1729)).select("docid", "content").coalesce(1).write.parquet(src)
    batch = spark.read.parquet(src)
    assert batch.rdd.getNumPartitions() == 1
    group = "test-build-budget"
    sc.setJobGroup(group, group)
    try:
        idx = build_index(batch, str(tmp_path / "idx"), tokenizer_mode="simple", num_shards=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    job_ids = _group_jobs(sc, group)
    assert len(job_ids) <= 8, job_ids
    graphs = _stage_rdd_graphs(sc, job_ids)
    assert graphs and not [g for g in graphs if "PythonRDD" in g]  # no pickled-row stage
    assert verify_index(idx)["ok"] and idx.meta.n_docs == 1000
    assert os.path.isdir(os.path.join(idx.path, "postings"))
