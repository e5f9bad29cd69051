"""Session factory defaults: shuffle partitions follow the core count
unless the caller sets them."""


def test_shuffle_partitions_default_to_cores(spark, monkeypatch):
    from ml4logs_spark.session import get_spark

    monkeypatch.delenv("ML4S_SHUFFLE_PARTITIONS", raising=False)
    key = "spark.sql.shuffle.partitions"
    try:
        # getOrCreate hands back the shared session fixture
        s = get_spark()
        assert s.conf.get(key) == str(s.sparkContext.defaultParallelism)
        assert get_spark(shuffle_partitions=6).conf.get(key) == "6"
    finally:
        spark.conf.set(key, "8")
