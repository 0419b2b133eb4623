"""Physical-plan hygiene: the plans we would want at 10^12 rows.

Checks .explain() output the way SURVEY.md §4 prescribes: column
pruning keeps `bytes` out of caption-detector scans (the single
biggest I/O lever), bucket-size aggregation is map-side partial
(two-stage — one hot key cannot pin a reducer for counting), and the
salted-key helper is equivalent to direct grouping.
"""

from __future__ import annotations

import ast

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dude_spark.config import MinHashConfig, SimHashConfig, SuffixConfig
from dude_spark.detectors.exact import exact_buckets
from dude_spark.detectors.minhash import minhash_signatures
from dude_spark.detectors.simhash import simhash_signatures
from dude_spark.detectors.suffix import suffix_signatures
from dude_spark.fixtures import IMAGES_COLUMNS
from dude_spark.operators.candidates import pairs_from_buckets, salt_buckets


@pytest.fixture(scope="module")
def parquet_images(spark, fixture_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "images.parquet")
    spark.createDataFrame(fixture_pdf[IMAGES_COLUMNS]).write.parquet(path)
    return spark.read.parquet(path)


def _read_schema_line(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert lines, plan
    return lines[0]


def test_caption_detectors_prune_bytes(parquet_images):
    for df in (
        minhash_signatures(parquet_images, MinHashConfig()),
        simhash_signatures(parquet_images, SimHashConfig()),
        suffix_signatures(parquet_images, SuffixConfig()),
    ):
        rs = _read_schema_line(df)
        assert "bytes" not in rs, rs
        assert "caption" in rs or "phash" in rs, rs


def test_exact_detector_reads_only_id_and_bytes(parquet_images):
    rs = _read_schema_line(exact_buckets(parquet_images))
    assert "bytes" in rs and "image_id" in rs
    assert "caption" not in rs and "phash" not in rs, rs


def test_overcap_aggregate_is_two_stage(parquet_images):
    from dude_spark.operators.candidates import overcap_stats

    overcap = overcap_stats(exact_buckets(parquet_images), 64)
    plan = overcap._jdf.queryExecution().executedPlan().toString()
    # map-side partial + final merge = two aggregate operators around
    # the exchange (SortAggregate since min(string) joined the agg); a
    # hot key only ever costs the merge side one combined row per map
    # partition
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2, plan
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_pairs_plan_single_fat_shuffle(parquet_images):
    # the pairing path shuffles the fat bucket table ONCE (the window);
    # the self-join operates on the singleton-filtered remainder
    pairs, _ = pairs_from_buckets(exact_buckets(parquet_images), 64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan


def test_hot_bucket_star_edges_via_broadcast(spark):
    """A bucket over the cap must produce star edges through a
    broadcast join of the (few) over-cap keys — never by colocating
    the hot bucket on one reducer — and exact star-edge output."""
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(5000)]
            + [f"p{i}" for i in range(4)],
            "bucket": ["HOT"] * 5000 + ["ok"] * 4,
        }
    )
    pairs, overcap = pairs_from_buckets(spark.createDataFrame(pdf), bucket_cap=64)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    star = {("i00000", f"i{i:05d}") for i in range(1, 5000)}
    full = {(f"p{i}", f"p{j}") for i in range(4) for j in range(i + 1, 4)}
    assert got == star | full
    oc = overcap.collect()
    assert len(oc) == 1 and oc[0]["bucket"] == "HOT" and oc[0]["bucket_size"] == 5000


def test_hot_bucket_exhaustive_grid_emits_all_pairs(spark):
    """overcap_mode='exhaustive' (pair-semantics callers): a hot bucket
    must emit EVERY in-bucket pair via the salted block grid — the
    exact set a naive self-join would produce — while under-cap
    buckets keep the window path, and the cut is still recorded."""
    n_hot = 300
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(n_hot)]
            + [f"p{i}" for i in range(4)],
            "bucket": ["HOT"] * n_hot + ["ok"] * 4,
        }
    )
    pairs, overcap = pairs_from_buckets(
        spark.createDataFrame(pdf), bucket_cap=64, overcap_mode="exhaustive"
    )
    got = {(r["a"], r["b"]) for r in pairs.collect()}
    hot_all = {
        (f"i{i:05d}", f"i{j:05d}")
        for i in range(n_hot)
        for j in range(i + 1, n_hot)
    }
    full = {(f"p{i}", f"p{j}") for i in range(4) for j in range(i + 1, 4)}
    assert got == hot_all | full
    oc = overcap.collect()
    assert len(oc) == 1 and oc[0]["bucket_size"] == n_hot


def test_exhaustive_grid_refuses_impossible_jobs(spark, monkeypatch):
    """A universal bucket above the pair-count safety bound must raise
    loudly instead of launching a quadratic job."""
    from dude_spark.operators import candidates

    monkeypatch.setattr(candidates, "_MAX_EXHAUSTIVE_PAIRS", 1000)
    pdf = pd.DataFrame(
        {"image_id": [f"i{i}" for i in range(100)], "bucket": ["U"] * 100}
    )
    with pytest.raises(ValueError, match="safety bound"):
        candidates.pairs_from_buckets(
            spark.createDataFrame(pdf), bucket_cap=10,
            overcap_mode="exhaustive",
        )


def test_salted_two_stage_equals_direct(spark):
    # hot key: 5000 rows in one bucket; salted two-stage count must
    # equal the direct group count exactly
    pdf = pd.DataFrame(
        {
            "image_id": [f"i{i:05d}" for i in range(6000)],
            "bucket": ["HOT"] * 5000 + [f"b{i}" for i in range(1000)],
        }
    )
    buckets = spark.createDataFrame(pdf)
    direct = {
        r["bucket"]: r["n"]
        for r in buckets.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    salted = salt_buckets(buckets, salt=16)
    two_stage = (
        salted.groupBy("bucket_salted", "bucket")
        .agg(F.count("*").alias("partial"))
        .groupBy("bucket")
        .agg(F.sum("partial").alias("n"))
    )
    got = {r["bucket"]: r["n"] for r in two_stage.collect()}
    assert got == direct
    # the hot key really was spread over multiple salted sub-buckets
    n_sub = salted.where(F.col("bucket") == "HOT").select(
        "bucket_salted"
    ).distinct().count()
    assert n_sub > 1


def test_whole_stage_codegen_covers_bucket_path(parquet_images):
    # the exact detector's bucket projection must be inside
    # WholeStageCodegen (JVM, no Python boundary)
    plan = exact_buckets(parquet_images)._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in plan  # '*' marks WholeStageCodegen spans
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # null-filter reaches the parquet scan
    assert "PushedFilters: [IsNotNull(bytes)]" in plan


def test_many_overcap_buckets_distributed_fallback(spark, monkeypatch):
    """Above _MAX_COLLECTED_OVERCAP over-cap buckets (cap/selectivity
    mismatching the corpus), the skew plan must not materialize the
    hot-key list on the driver — hot frames join distributedly — and
    both modes' outputs stay identical to the broadcast plan's."""
    from dude_spark.operators import candidates

    pdf = pd.DataFrame(
        {
            "image_id": [f"i{b}_{i}" for b in range(6) for i in range(8)]
            + [f"p{i}" for i in range(3)],
            "bucket": [f"H{b}" for b in range(6) for _ in range(8)]
            + ["ok"] * 3,
        }
    )
    df = spark.createDataFrame(pdf)

    def run(mode):
        pairs, overcap = candidates.pairs_from_buckets(
            df, bucket_cap=4, overcap_mode=mode
        )
        return (
            {(r["a"], r["b"]) for r in pairs.collect()},
            {(r["bucket"], r["bucket_size"]) for r in overcap.collect()},
        )

    expected = {m: run(m) for m in ("star", "exhaustive")}
    monkeypatch.setattr(candidates, "_MAX_COLLECTED_OVERCAP", 3)
    for m in ("star", "exhaustive"):
        got_pairs, got_overcap = run(m)
        assert got_pairs == expected[m][0]
        assert got_overcap == expected[m][1]
        assert got_overcap == {(f"H{b}", 8) for b in range(6)}


def test_ensure_min_partitions_spreads_underpartitioned_scan(spark, tmp_path):
    """A one-row-group parquet plans as ONE input partition; the
    signature stage must not inherit that (measured at sf0.1: the
    minhash signature UDF ran on 2 of 32 cores, a 260k-row n-gram
    explode took 11 s on one task).  ensure_min_partitions spreads the
    narrow projection to the session's parallelism — and is a NO-OP
    when the input is already wide enough (a 100 TB scan must not pay
    a pointless full shuffle)."""
    from dude_spark.session import ensure_min_partitions

    path = str(tmp_path / "docs.parquet")
    spark.range(500).selectExpr(
        "cast(id as string) image_id", "repeat('word ', 40) caption"
    ).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    spread = ensure_min_partitions(one)
    target = spark.sparkContext.defaultParallelism
    assert spread.rdd.getNumPartitions() == target
    # idempotent / no-op on an already-spread frame: no second exchange
    again = ensure_min_partitions(spread)
    assert again is spread
    # the signature UDF consumes the spread layout
    sigs = minhash_signatures(one, MinHashConfig())
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan, plan


def test_ensure_min_partitions_skips_post_shuffle_frames(spark, tmp_path):
    """A frame that already crossed a shuffle is returned UNTOUCHED —
    AQE spreads shuffle outputs itself, and probing its partition count
    via df.rdd would finalize the adaptive plan, eagerly running the
    upstream exchange stages once for the probe and again for the real
    query (observed: streaming verify fns paying their semi-join twice
    per micro-batch)."""
    from dude_spark.session import ensure_min_partitions

    path = str(tmp_path / "docs.parquet")
    spark.range(200).selectExpr(
        "cast(id as string) image_id", "repeat('word ', 5) caption"
    ).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    keys = scan.select("image_id").limit(50)
    joined = scan.join(keys, "image_id", "leftsemi")
    assert ensure_min_partitions(joined) is joined
    agged = scan.groupBy("caption").count()
    assert ensure_min_partitions(agged) is agged
    # ...while a scan-rooted narrow projection still gets the spread
    spread = ensure_min_partitions(scan.select("image_id", "caption"))
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_embedding_udf_paths_have_partition_floor(spark, tmp_path):
    """The §10.5 one-row-group starvation applies to any Python kernel
    over a raw scan (round-3 VERDICT next #10): the embedding LSH
    signature matmul, the IVF cell-assignment matmul, and the exact
    block matmul must all spread an under-split scan before their UDF
    stage, exactly like the text detectors do."""
    import numpy as np
    import pandas as pd

    from dude_spark.functions.embedding import (
        _lsh_signature_base,
        ann_topk,
        cosine_dup_pairs,
    )

    rs = np.random.RandomState(7)
    path = str(tmp_path / "embs.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": range(300),
                "embedding": [
                    rs.standard_normal(16).astype("float32").tolist()
                    for _ in range(300)
                ],
            }
        )
    ).coalesce(1).write.parquet(path)
    embs = spark.read.parquet(path)
    assert embs.rdd.getNumPartitions() == 1

    # the LSH path checkpoints its signature base (plan truncation), so
    # assert on the factored pre-checkpoint frame it actually uses
    lsh = _lsh_signature_base(embs, "vec_id", "embedding", 16, 42)
    exact = cosine_dup_pairs(embs, threshold=0.99, strategy="exact", dim=16)
    ann = ann_topk(embs, embs.where("vec_id < 2"), k=5, dim=16, n_cells=8)
    for name, df in (("lsh", lsh), ("exact", exact), ("ann", ann)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert (
            "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
        ), (name, plan)


def test_tile_hamming_match_is_jvm_only(spark):
    """The Hamming tile verify (nested exists + bit_count over two
    small key arrays) must stay inside JVM codegen — no Python eval
    node and no cartesian product in the plan."""
    from dude_spark.operators.multimodal import tile_hamming_match

    pairs = spark.createDataFrame([("a", "b")], "a string, b string")
    tiles = spark.createDataFrame(
        [("a", [1, 2]), ("b", [3, 4])],
        "image_id string, tile_keys array<long>",
    )
    plan = (
        tile_hamming_match(pairs, tiles, radius=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ann_query_joins_broadcast_query_side(spark, tmp_path):
    """ann_query against a persisted posting list: the (small) query
    side rides a broadcast — the corpus-sized assignment frame must
    never shuffle for the cell join."""
    import numpy as np

    from dude_spark.functions.embedding import ann_assign, ann_query

    pdf = pd.DataFrame({
        "vec_id": list(range(64)),
        "embedding": [
            np.random.RandomState(i).uniform(-0.5, 0.5, 8)
            .astype("float32").tolist()
            for i in range(64)
        ],
    })
    df = spark.createDataFrame(pdf).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    )
    cent = np.eye(4, 8)[:4]
    p = str(tmp_path / "cells")
    ann_assign(df, cent).write.parquet(p)
    assigned = spark.read.parquet(p)
    plan = (
        ann_query(assigned, cent, df.where("vec_id < 3"), k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def _assert_local_relation(df):
    """Driver-held rows must plan as a JVM LocalRelation: a LogicalRDD
    over a Python RDD costs a Python-worker job on every action."""
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


def test_driver_held_frames_plan_as_local_relation(spark, tmp_path):
    from dude_spark.operators.candidates import cross_corpus_pairs
    from dude_spark.operators.components import _driver_components
    from dude_spark.storage import ShardedEpochStore
    from dude_spark.streaming.components import current_assignments

    def buckets(rows):
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["image_id", "bucket"])
        )

    # overcap record from pairs_from_buckets: no hot bucket, one hot bucket
    _, none_hot = pairs_from_buckets(buckets([("a", "x"), ("b", "x")]), 4)
    _, one_hot = pairs_from_buckets(
        buckets([(f"i{i}", "HOT") for i in range(6)]), 4
    )
    assert none_hot.count() == 0 and one_hot.count() == 1
    # cross-corpus: the known side's capped bucket joins the record
    _, cross = cross_corpus_pairs(
        buckets([(f"k{i}", "HOT") for i in range(6)]),
        buckets([("n0", "HOT")]),
        bucket_cap=4,
    )
    assert {r["side"] for r in cross.collect()} == {"known"}
    no_edges = _driver_components(spark.createDataFrame([], "a long, b long"))
    empty_state = current_assignments(
        spark, ShardedEpochStore(spark, str(tmp_path), "assign", "image_id")
    )
    assert no_edges.count() == 0 and empty_state.count() == 0
    for df in (none_hot, one_hot, cross, no_edges, empty_state):
        _assert_local_relation(df)


def _create_dataframe_refs(tree) -> int:
    return sum(
        isinstance(n, ast.Attribute) and n.attr == "createDataFrame"
        for n in ast.walk(tree)
    )


def test_driver_frames_only_built_by_local_frame():
    """One way to build a frame over driver-held rows: the package's
    only createDataFrame call is the one inside session.local_frame."""
    import pathlib

    import dude_spark

    pkg = pathlib.Path(dude_spark.__file__).parent
    refs = {
        str(path.relative_to(pkg)): _create_dataframe_refs(
            ast.parse(path.read_text())
        )
        for path in sorted(pkg.rglob("*.py"))
    }
    session = ast.parse((pkg / "session.py").read_text())
    local_frame = next(
        n
        for n in ast.walk(session)
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    assert {k: v for k, v in refs.items() if v} == {
        "session.py": _create_dataframe_refs(local_frame)
    }
