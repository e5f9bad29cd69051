"""Streaming embedding ingest: cross-batch near-dup discovery over
persistent state, frozen quantizer, and idempotent batch replay."""

from pathlib import Path

import numpy as np
import pytest


@pytest.fixture()
def emb_batches(spark, tmp_path):
    """Three single-file batches; vec 205 (batch 2) duplicates vec 3
    (batch 0), vec 301 duplicates vec 302 (both batch 3)."""
    rng = np.random.default_rng(29)
    mk = lambda i, v: (i, [float(x) for x in v], 0)

    def vecs(ids):
        return [mk(i, rng.normal(size=16)) for i in ids]

    b1 = vecs(range(0, 8))
    b2 = vecs(range(100, 108))
    b3 = vecs(range(200, 208))
    b3[5] = mk(205, b1[3][1])  # cross-batch duplicate of vec 3
    b4 = vecs(range(300, 308))
    b4[2] = mk(302, b4[1][1])  # within-batch duplicate of 301
    in_dir = tmp_path / "emb_in"
    in_dir.mkdir()
    schema = "vec_id long, embedding array<float>, label int"
    for n, rows in enumerate([b1, b2, b3, b4]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(in_dir / f"b{n}")
        )
    return str(in_dir)


def _run(spark, in_dir, tmp_path, tag):
    from ml4logs_spark.streaming import embedding_ingest as ei

    state = tmp_path / f"state_{tag}"
    q = ei.run_embedding_ingest(
        ei.stream_embeddings(spark, in_dir + "/*"),
        state_dir=str(state),
        checkpoint_dir=str(tmp_path / f"ckpt_{tag}"),
        threshold=0.98,
        dim=16,
    )
    q.awaitTermination()
    q.stop()
    return state


def test_streaming_ingest_finds_cross_batch_pairs(spark, emb_batches, tmp_path):
    state = _run(spark, emb_batches, tmp_path, "a")
    pairs = {
        (r["vec_a"], r["vec_b"])
        for r in spark.read.parquet(str(state / "pairs")).collect()
    }
    assert (3, 205) in pairs      # across batches, via state only
    assert (301, 302) in pairs    # within one batch
    assert pairs == {(3, 205), (301, 302)}
    # state holds every ingested vector exactly once
    assert spark.read.parquet(str(state / "codes")).count() == 32
    # frozen quantizer: params written once, dim-sized
    assert spark.read.parquet(str(state / "quant")).count() == 16


def test_streaming_ingest_batch_replay_is_idempotent(
    spark, emb_batches, tmp_path
):
    from ml4logs_spark.streaming import embedding_ingest as ei

    state = _run(spark, emb_batches, tmp_path, "b")
    n_pairs = spark.read.parquet(str(state / "pairs")).count()
    n_codes = spark.read.parquet(str(state / "codes")).count()
    # simulate a foreachBatch retry: re-invoke the committed batch ids
    markers = sorted(p.name for p in Path(state).glob("_batch_*"))
    assert len(markers) == 4
    # re-run the whole query over the same source + a fresh checkpoint:
    # every batch re-fires under the same ids, every marker
    # short-circuits
    q = ei.run_embedding_ingest(
        ei.stream_embeddings(spark, emb_batches + "/*"),
        state_dir=str(state),
        checkpoint_dir=str(tmp_path / "ckpt_b2"),
        threshold=0.98,
        dim=16,
    )
    q.awaitTermination()
    q.stop()
    assert spark.read.parquet(str(state / "pairs")).count() == n_pairs
    assert spark.read.parquet(str(state / "codes")).count() == n_codes


def test_partial_batch_retry_overwrites_not_appends(spark, emb_batches, tmp_path):
    """The exactly-once mechanism itself: a batch that wrote state but
    died before its marker must, on retry, OVERWRITE its partitions
    (not append) and must not probe its own partial state."""
    from ml4logs_spark.streaming import embedding_ingest as ei

    state = _run(spark, emb_batches, tmp_path, "c")
    n_pairs = spark.read.parquet(str(state / "pairs")).count()
    n_codes = spark.read.parquet(str(state / "codes")).count()
    # find which batch id ingested file b2 (the cross-batch dup batch)
    codes = spark.read.parquet(str(state / "codes"))
    bid = codes.filter("vec_id = 205").select("batch").collect()[0]["batch"]
    # simulate "state written, marker never committed"
    (Path(state) / f"_batch_{bid}").rmdir()
    ingest = ei.make_batch_ingester(str(state), threshold=0.98, dim=16)
    ingest(spark.read.parquet(emb_batches + "/b2"), bid)
    # retry rewrote its partitions in place: nothing duplicated
    assert spark.read.parquet(str(state / "pairs")).count() == n_pairs
    assert spark.read.parquet(str(state / "codes")).count() == n_codes
    # and the planted cross-batch pair is still exactly once
    pairs = [
        tuple(r)
        for r in spark.read.parquet(str(state / "pairs"))
        .select("vec_a", "vec_b")
        .collect()
    ]
    assert pairs.count((3, 205)) == 1


def test_redelivered_batch_under_new_id_is_deduped(spark, emb_batches, tmp_path):
    """A producer re-dropping the same rows under a NEW filename gets a
    new batch_id (the marker cannot catch it); the vec_id anti-join
    against the code state must keep the state and pair log unchanged."""
    from ml4logs_spark.streaming import embedding_ingest as ei

    state = _run(spark, emb_batches, tmp_path, "d")
    n_pairs = spark.read.parquet(str(state / "pairs")).count()
    n_codes = spark.read.parquet(str(state / "codes")).count()
    ingest = ei.make_batch_ingester(str(state), threshold=0.98, dim=16)
    ingest(spark.read.parquet(emb_batches + "/b2"), 99)  # fresh id, same rows
    assert spark.read.parquet(str(state / "codes")).count() == n_codes
    assert spark.read.parquet(str(state / "pairs")).count() == n_pairs


def test_streaming_ingest_releases_its_persists(spark, emb_batches, tmp_path):
    """Every micro-batch with history runs the incremental probe, which
    tracks a persisted candidate frame; the ingest must release it with
    the batch, or a long-running query accumulates one cached frame per
    micro-batch."""
    from ml4logs_spark import cache

    # clean baseline: earlier tests may leave tracked persists
    cache.release_all()
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    state = _run(spark, emb_batches, tmp_path, "e")
    # four micro-batches drained, three of them probed history
    assert len(list(Path(state).glob("_batch_*"))) == 4
    assert cache._TRACKED == []
    assert persistent().size() == before


def test_state_schemas_match_what_the_writers_produce(
    spark, emb_batches, tmp_path
):
    """The ingest reads its state with fixed schemas instead of
    inferring them; a writer whose output schema drifts must fail here
    rather than be silently re-read through the old schema."""
    from pyspark.sql.types import StructType

    from ml4logs_spark.streaming import embedding_ingest as ei

    state = tmp_path / "state_f"
    ingest = ei.make_batch_ingester(str(state), threshold=0.98, dim=16)
    for bid, name in enumerate(["b0", "b1"]):
        ingest(spark.read.parquet(f"{emb_batches}/{name}"), bid)

    def shape(schema):  # names and types, nullability ignored
        return [(f.name, f.dataType.simpleString()) for f in schema]

    for table, ddl in [
        ("bands", ei.BANDS_SCHEMA),
        ("codes", ei.CODES_SCHEMA),
        ("quant", ei.QUANT_SCHEMA),
    ]:
        inferred = spark.read.parquet(str(state / table)).schema
        assert shape(inferred) == shape(StructType.fromDDL(ddl)), table
