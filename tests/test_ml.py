"""ML pair tests: train/persist/load/infer + fallback (SURVEY section 2.9)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from real_time_financial_lakehouse_spark.catalog import load_table
from real_time_financial_lakehouse_spark.ml import regression as R
from real_time_financial_lakehouse_spark.operators.relational import positive_filter
from real_time_financial_lakehouse_spark.operators.silver import sliding_window_agg

@pytest.fixture(scope="module")
def silver_df(spark):
    agg = sliding_window_agg(load_table(spark, SF_SMOKE, "events"))
    return positive_filter(agg).cache()

def test_train_save_load_infer_roundtrip(spark, silver_df, tmp_path):
    model = R.train(silver_df)
    path = str(tmp_path / "model")
    R.save_model(model, path)
    loaded = R.load_model(path)
    assert loaded.coefficients[0] == pytest.approx(model.coefficients[0])
    scored = R.infer(loaded, silver_df)
    assert "predicted_price" in scored.columns
    assert scored.count() == silver_df.count()
    # predictions follow the linear form
    row = scored.select("volatility", "predicted_price").first()
    expected = model.intercept + model.coefficients[0] * row["volatility"]
    assert row["predicted_price"] == pytest.approx(expected, rel=1e-9)

def test_train_guard_raises_below_minimum(spark, silver_df):
    with pytest.raises(ValueError):
        R.train(silver_df.limit(3))

def test_infer_fallback_without_model(spark, silver_df):
    out = R.infer_with_fallback(None, silver_df)
    assert out.filter(F.col("predicted_price") != 0.0).count() == 0

def test_infer_fallback_on_bad_model(spark, silver_df):
    class Broken:
        def transform(self, df):
            raise RuntimeError("boom")

    out = R.infer_with_fallback(Broken(), silver_df)
    assert out.filter(F.col("predicted_price") != 0.0).count() == 0

def test_infer_fallback_logs_a_warning_naming_the_cause(spark, silver_df, caplog):
    class Broken:
        def __getattr__(self, name):
            raise RuntimeError("boom")

    with caplog.at_level("WARNING", logger=R.__name__):
        R.infer_with_fallback(Broken(), silver_df)
    (record,) = [r for r in caplog.records if r.name == R.__name__]
    assert record.levelname == "WARNING"
    assert "RuntimeError('boom')" in record.getMessage()

def _fitted_frame(spark):
    """120 rows with a non-degenerate feature, so the fit is not singular."""
    rows = [(0.37 * (i % 23) + 0.011 * i, 2.9 * (i % 23) + 7.0 + 0.13 * (i % 5)) for i in range(120)]
    return spark.createDataFrame(rows, ["volatility", "average_price"])

def test_in_plan_score_equals_mllib_transform(spark):
    """``infer`` scores with a column expression; every prediction must be
    bit-identical to ``model.transform`` through a VectorAssembler."""
    from pyspark.ml.feature import VectorAssembler

    df = _fitted_frame(spark).withColumn("i", F.monotonically_increasing_id())
    model = R.train(df)
    mllib = model.transform(
        VectorAssembler(inputCols=["volatility"], outputCol="features").transform(df)
    )
    want = {r["i"]: r["prediction"] for r in mllib.select("i", "prediction").collect()}
    got = {r["i"]: r["predicted_price"] for r in R.infer(model, df).select("i", "predicted_price").collect()}
    assert len(got) == len(want) == 120
    assert got == want

@pytest.mark.parametrize("bad", [None, float("nan")])
def test_in_plan_score_raises_on_an_invalid_feature(spark, bad):
    """A null or NaN feature fails the score, as the assembler's default
    ``handleInvalid="error"`` does; it is never scored as NaN.  The silver
    callback's na.fill makes both 0.0 before scoring."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import types as T

    model = R.train(_fitted_frame(spark))
    schema = T.StructType([T.StructField("volatility", T.DoubleType())])
    df = spark.createDataFrame([(1.0,), (bad,)], schema)
    with pytest.raises(Exception, match="invalid volatility"):
        R.infer(model, df).collect()
    with pytest.raises(Exception):  # the reference path refuses it too
        model.transform(
            VectorAssembler(inputCols=["volatility"], outputCol="features").transform(df)
        ).collect()
    filled = R.infer(model, df.na.fill(0.0, subset=["volatility"])).collect()
    assert [r["predicted_price"] for r in filled][1] == model.intercept

def test_closed_form_matches_mllib(spark):
    """The SQL-expressible OLS twin must agree with pyspark.ml's solver on
    a non-degenerate frame (the sf0.001 sliding windows are mostly
    single-event, so volatility is constant-zero there -- a singular fit)."""
    rows = [(float(i % 17), 3.0 * (i % 17) + 7.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["volatility", "average_price"]).withColumn(
        "symbol", F.lit("all")
    )
    model = R.train(df)
    glob = R.ols_closed_form(df.select("symbol", "volatility", "average_price")).collect()[0]
    assert glob["slope"] == pytest.approx(3.0, abs=1e-6)
    assert glob["intercept"] == pytest.approx(7.0, abs=1e-6)
    assert glob["slope"] == pytest.approx(float(model.coefficients[0]), rel=1e-6)
    assert glob["intercept"] == pytest.approx(float(model.intercept), rel=1e-6)

def test_closed_form_constant_feature_yields_null(spark, silver_df):
    """var_pop == 0 -> NULL slope/intercept, engine and oracle alike."""
    const = silver_df.select(
        "symbol", F.lit(0.0).alias("volatility"), "average_price"
    )
    out = R.ols_closed_form(const).collect()
    assert all(r["slope"] is None and r["intercept"] is None for r in out)

def test_fit_once_caches_loaded_model(spark):
    """fit_once trains + saves + loads exactly once per (session, sf_dir);
    the second call returns the cached loaded model without refitting."""
    rows = [(float(i % 17), 3.0 * (i % 17) + 7.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["volatility", "average_price"])
    m1 = R.fit_once(spark, "test-fit-once-key", df)
    m2 = R.fit_once(spark, "test-fit-once-key", df.limit(0))  # would fail to train
    assert m1 is m2
    from pyspark.ml.regression import LinearRegressionModel

    assert isinstance(m1, LinearRegressionModel)  # the LOADED artifact, not the fit
