"""Parity of the SQL-text scoring expressions in ``similarity`` with
the same expressions composed from Column calls and Python lambdas (the
``_ref_*`` references below): band and LSH signatures, L2 norms and
int8 codes must be row-identical, with ANSI mode on and off, including
zero vectors (every dot is 0.0, so every bit takes the ``>= 0`` branch)
and a vector lying on a hyperplane's normal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml4logs_spark.operators import similarity as sim

CONFIGS = [(16, 4, 64), (8, 2, 64), (8, 4, 8)]  # (n_planes, n_bands, dim)


def _ref_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _ref_bit(vec_col, plane, dim, j):
    w = F.array(*[F.lit(x) for x in sim._hyperplane(plane, dim)])
    return (
        F.when(_ref_dot(F.col(vec_col), w) >= 0, F.lit(1)).otherwise(F.lit(0))
        * (2**j)
    )


def _ref_sum(bits):
    sig = bits[0]
    for x in bits[1:]:
        sig = sig + x
    return sig


def _ref_band_signatures(emb, n_planes, n_bands, dim, vec_col="embedding"):
    r = n_planes // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            _ref_sum([_ref_bit(vec_col, b * r + j, dim, j) for j in range(r)])
            .cast("int")
            .alias("sig"),
        )
        for b in range(n_bands)
    ]
    return emb.select(
        "vec_id", F.explode(F.array(*bands)).alias("bs")
    ).select("vec_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def _ref_lsh_signatures(emb, n_planes, dim, vec_col="embedding"):
    sig = _ref_sum([_ref_bit(vec_col, p, dim, p) for p in range(n_planes)])
    return emb.withColumn("lsh_sig", sig.cast("int"))


def _ref_with_norm(emb, vec_col="embedding"):
    return emb.withColumn(
        "l2_norm", F.sqrt(_ref_dot(F.col(vec_col), F.col(vec_col)))
    )


def _ref_params_row(quant):
    p = F.array_sort(F.collect_list(F.struct("dim_idx", "lo", "hi")))
    return quant.agg(
        F.transform(p, lambda s: s["lo"]).alias("_los"),
        F.transform(p, lambda s: s["hi"]).alias("_his"),
    )


def _ref_quantize(emb, quant):
    def lo(i):
        return F.element_at("_los", i + 1)

    def hi(i):
        return F.element_at("_his", i + 1)

    codes = F.transform(
        F.col("embedding"),
        lambda v, i: F.when(hi(i) == lo(i), F.lit(0)).otherwise(
            F.floor((v.cast("double") - lo(i)) / (hi(i) - lo(i)) * 255 + 0.5)
            .cast("int")
            - 128
        ),
    )
    out = emb.crossJoin(F.broadcast(_ref_params_row(quant)))
    return out.select("vec_id", codes.alias("codes"))


def _ref_dequantize(codes, quant):
    deq = F.transform(
        F.col("codes"),
        lambda c, i: F.element_at("_los", i + 1)
        + (c.cast("double") + 128)
        / 255
        * (F.element_at("_his", i + 1) - F.element_at("_los", i + 1)),
    )
    out = codes.crossJoin(F.broadcast(_ref_params_row(quant)))
    return out.select("vec_id", deq.alias("qvec"))


@pytest.fixture()
def ansi(spark, request):
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, str(request.param).lower())
    yield request.param
    spark.conf.set(key, before)


def _vectors(spark, dim):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=dim).astype(np.float32)])
        for i in range(300)
    ]
    rows += [(1000 + i, [0.0] * dim) for i in range(3)]
    rows.append((2000, [float(np.float32(x)) for x in sim._hyperplane(0, dim)]))
    rows.append((2001, [-float(np.float32(x)) for x in sim._hyperplane(0, dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _same_rows(new, old):
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == old.count() > 0


@pytest.mark.parametrize("ansi", [True, False], indirect=True)
@pytest.mark.parametrize("n_planes,n_bands,dim", CONFIGS)
def test_band_signatures_match_lambda_builder(spark, ansi, n_planes, n_bands, dim):
    emb = _vectors(spark, dim)
    new = sim.band_signatures(emb, n_planes=n_planes, n_bands=n_bands, dim=dim)
    _same_rows(new, _ref_band_signatures(emb, n_planes, n_bands, dim))
    # zero vectors take the ">= 0" branch on every plane
    zero = new.filter("vec_id = 1000").select("sig").distinct().collect()
    assert [r.sig for r in zero] == [2 ** (n_planes // n_bands) - 1]


@pytest.mark.parametrize("ansi", [True, False], indirect=True)
@pytest.mark.parametrize("n_planes,dim", [(p, d) for p, _, d in CONFIGS])
def test_lsh_signatures_match_lambda_builder(spark, ansi, n_planes, dim):
    emb = _vectors(spark, dim)
    _same_rows(
        sim.lsh_signatures(emb, n_planes=n_planes, dim=dim),
        _ref_lsh_signatures(emb, n_planes, dim),
    )


@pytest.mark.parametrize("ansi", [True, False], indirect=True)
@pytest.mark.parametrize("dim", sorted({d for _, _, d in CONFIGS}))
def test_with_norm_matches_lambda_builder(spark, ansi, dim):
    emb = _vectors(spark, dim)
    _same_rows(sim.with_norm(emb), _ref_with_norm(emb))


@pytest.mark.parametrize("ansi", [True, False], indirect=True)
def test_int8_codes_match_lambda_builder(spark, ansi):
    emb = _vectors(spark, 8)
    # a constant dimension exercises the hi == lo branch
    emb = emb.withColumn("embedding", F.expr("concat(array(1F), embedding)"))
    quant = sim.fit_quantizer(emb)
    codes = sim.quantize_embeddings(emb, quant)
    _same_rows(codes, _ref_quantize(emb, quant))
    _same_rows(sim.dequantize(codes, quant), _ref_dequantize(codes, quant))
