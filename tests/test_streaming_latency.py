"""Streaming latency extraction + histogram ledger equal the batch
path after the stream drains — per-conversation pairing state must
survive across micro-batches (the input is range-split by turn_idx so
every conversation's turns arrive in several batches)."""

import pandas as pd
from pyspark.sql import functions as F


def _batch_latencies(turns):
    from ml4logs_spark.operators.windows import w_conv

    us = F.unix_micros(F.col("ts"))
    lat = F.lead(us).over(w_conv()) - us
    return (
        turns.select("conv_id", "turn_idx", "tool", lat.alias("lat_us"))
        .filter(F.col("tool").isNotNull() & F.col("lat_us").isNotNull())
    )


def test_stream_latencies_match_batch_lead(spark, turns, tmp_path):
    from ml4logs_spark.streaming import latency, stream_pipeline as sp

    in_dir = str(tmp_path / "stream_in")
    # order files by turn ranges so per-conv pairing state genuinely
    # spans micro-batches (same harness as the sessionizer test)
    turns.repartitionByRange(6, "turn_idx").write.parquet(in_dir)
    sp.stamp_file_order(in_dir)

    out = latency.stream_tool_latencies(sp.stream_transcripts(spark, in_dir))
    q = (
        out.writeStream.format("memory")
        .queryName("t_latencies")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_latencies").toPandas()
    q.stop()

    want = _batch_latencies(turns).toPandas()
    key = ["conv_id", "turn_idx"]
    a = got.sort_values(key).reset_index(drop=True)
    b = want.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) > 0
    assert (a.tool.values == b.tool.values).all()
    assert (a.lat_us.astype("int64").values
            == b.lat_us.astype("int64").values).all()


def test_latency_ingest_ledger_matches_batch_histogram(spark, turns, tmp_path):
    from ml4logs_spark.operators import windows
    from ml4logs_spark.streaming import latency, stream_pipeline as sp

    in_dir = str(tmp_path / "stream_in")
    turns.repartitionByRange(6, "turn_idx").write.parquet(in_dir)
    sp.stamp_file_order(in_dir)

    q = latency.run_latency_ingest(
        sp.stream_transcripts(spark, in_dir),
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    q.stop()

    state = latency.read_latency_state(spark, str(tmp_path / "state"))
    got = state.toPandas().sort_values(["tool", "bucket_lo"])
    want = (
        windows.tool_latency_histogram_state(turns)
        .toPandas().sort_values(["tool", "bucket_lo"])
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )

    # the published percentiles agree with the day-2 publish over the
    # batch state (same frame in, same deterministic integers out)
    pub = {
        (r.tool, r.q_pct): (r.n_timed, r.bucket_lo)
        for r in windows.latency_percentiles_from_histogram(state).collect()
    }
    ref = {
        (r.tool, r.q_pct): (r.n_timed, r.bucket_lo)
        for r in windows.latency_percentiles_from_histogram(
            windows.tool_latency_histogram_state(turns)
        ).collect()
    }
    assert pub == ref and len(pub) > 0

    # replaying a committed batch is a no-op (marker short-circuit)
    ingest = latency.make_latency_ingester(str(tmp_path / "state"))
    ingest(_batch_latencies(turns).limit(50), 0)
    after = latency.read_latency_state(
        spark, str(tmp_path / "state")
    ).toPandas().sort_values(["tool", "bucket_lo"])
    pd.testing.assert_frame_equal(
        after.reset_index(drop=True), want.reset_index(drop=True),
        check_dtype=False,
    )


def test_extract_latencies_split_invariance_property():
    """Pure-Python property (no Spark): for ANY conversation and ANY
    split of its turns into ordered micro-batches (including empty and
    single-row chunks), the stateful extractor emits exactly the batch
    pairing — each turn with a tool closes against its successor, the
    final turn never emits."""
    import itertools

    import pandas as pd

    from ml4logs_spark.streaming.latency import _extract_latencies

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    def run_split(rows, cuts):
        state = FakeState()
        out = []
        bounds = [0, *cuts, len(rows)]
        for lo, hi in itertools.pairwise(bounds):
            chunk = rows[lo:hi]
            if not chunk:
                continue
            pdf = pd.DataFrame(
                chunk, columns=["turn_idx", "tool", "ts"]
            ).astype({"ts": "datetime64[ns]"})
            out.extend(
                o for o in _extract_latencies(("c",), [pdf], state)
            )
        if not out:
            return []
        cat = pd.concat(out, ignore_index=True)
        return list(zip(cat.turn_idx, cat.tool, cat.lat_us))

    base = pd.Timestamp("2024-03-01")
    # mixed tool/non-tool turns with irregular gaps incl. a 0-gap pair
    rows = [
        (0, "a", base),
        (1, None, base + pd.Timedelta(microseconds=7)),
        (2, "b", base + pd.Timedelta(microseconds=7)),
        (3, "a", base + pd.Timedelta(microseconds=1000)),
        (4, None, base + pd.Timedelta(microseconds=1003)),
        (5, "c", base + pd.Timedelta(microseconds=9999)),
    ]
    want = [(0, "a", 7), (2, "b", 993), (3, "a", 3)]  # 5 never closes

    # every split of the 6 turns into up to 3 cut points
    for k in range(3):
        for cuts in itertools.combinations(range(1, len(rows)), k):
            assert run_split(rows, list(cuts)) == want, f"cuts={cuts}"


def test_latency_checkpoint_keeps_its_partition_count(spark, turns, tmp_path):
    """A streaming checkpoint pins the shuffle partition count at first
    start: state written at 8 partitions must resume intact after the
    session's count changes (the default follows the core count)."""
    import shutil

    from ml4logs_spark.operators import windows
    from ml4logs_spark.streaming import latency, stream_pipeline as sp

    staged, in_dir = tmp_path / "staged", tmp_path / "stream_in"
    turns.repartitionByRange(6, "turn_idx").write.parquet(str(staged))
    parts = sorted(staged.glob("part-*"))
    in_dir.mkdir()
    ckpt, state = tmp_path / "ckpt", str(tmp_path / "state")

    def drain(files):
        for p in files:
            shutil.copy(p, in_dir / p.name)
        sp.stamp_file_order(str(in_dir))
        q = latency.run_latency_ingest(
            sp.stream_transcripts(spark, str(in_dir)),
            state_dir=state, checkpoint_dir=str(ckpt),
        )
        q.awaitTermination()
        q.stop()

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    drain(parts[:3])  # day 1 creates the checkpoint at 8 partitions
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        drain(parts[3:])  # day 2 resumes on new turn files
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")

    got = latency.read_latency_state(spark, state).toPandas()
    want = windows.tool_latency_histogram_state(turns).toPandas()
    key = ["tool", "bucket_lo"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    # one state-store directory per pinned partition (plus _metadata)
    pinned = {p.name for p in (ckpt / "state" / "0").iterdir()}
    assert pinned - {"_metadata"} == {str(i) for i in range(8)}
