"""Linear price model: train on silver aggregates, infer inside the stream.

Reference (train_model.py:28-50; process_silver.py:31-41,60-85):
``VectorAssembler(inputCols=["volatility"])`` + ``LinearRegression``
fitted on filtered silver rows, persisted, lazily loaded in the silver
stream, applied per micro-batch with a ``lit(0.0)`` fallback if the model
is missing or fails.  The pyspark.ml API is identical, so this module
keeps the same five-step surface and adds a closed-form OLS twin that IS
SQL-expressible, for oracle checking (1-feature least squares:
slope = covar_pop(x,y)/var_pop(x), intercept = avg(y) - slope*avg(x)).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import qround
from ..scratch import scratch_dir

FEATURE_COL = "volatility"
LABEL_COL = "average_price"
MIN_TRAINING_ROWS = 5  # train_model.py:34-36 guard

log = logging.getLogger(__name__)

def training_frame(silver: DataFrame) -> DataFrame:
    """train_model.py:30,43: positivity filter + feature/label projection."""
    return silver.filter((F.col(LABEL_COL) > 0) & (F.col(FEATURE_COL) >= 0)).select(
        FEATURE_COL, LABEL_COL
    )

def train(silver: DataFrame):
    """M1+M2: assemble features, fit LinearRegression
    (train_model.py:42-46).  Raises ValueError below the reference's
    5-row guard (train_model.py:34-36)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    train_df = training_frame(silver)
    if train_df.count() < MIN_TRAINING_ROWS:
        raise ValueError(f"insufficient training data (<{MIN_TRAINING_ROWS} rows)")
    assembler = VectorAssembler(inputCols=[FEATURE_COL], outputCol="features")
    lr = LinearRegression(featuresCol="features", labelCol=LABEL_COL)
    return lr.fit(assembler.transform(train_df))

# fitted-model cache, keyed by (SparkContext id, sf_dir): the reference
# trains offline once and the stream only LOADS (train_model.py:50 ->
# process_silver.py:35); re-fitting inside every query invocation both
# misrepresents the serving plan and dominates the benchmark.
_MODEL_CACHE: dict = {}

def fit_once(spark, sf_dir: str, silver: DataFrame):
    """Train at most once per (session, dataset), persist through the S8
    save/load path, and serve the LOADED model afterwards -- the
    reference's train-offline / load-in-stream split
    (train_model.py:42-50, process_silver.py:31-41)."""

    key = (id(spark.sparkContext), sf_dir)
    model = _MODEL_CACHE.get(key)
    if model is None:
        path = scratch_dir("rtfl_lr_model_")
        save_model(train(silver), path)
        model = load_model(path)
        _MODEL_CACHE[key] = model
    return model

def save_model(model, path: str) -> None:
    """S8: persist with overwrite (train_model.py:50)."""
    model.write().overwrite().save(path)

def load_model(path: str):
    """S8: load persisted model (process_silver.py:35)."""
    from pyspark.ml.regression import LinearRegressionModel

    return LinearRegressionModel.load(path)

def infer(model, batch: DataFrame) -> DataFrame:
    """M3: ``predicted_price`` from the fitted model (process_silver.py:72-76),
    applied in-plan as one column, ``coef * volatility + intercept``.

    ``LinearRegressionModel.transform`` through a ``VectorAssembler``
    computes ``dot(features, coefficients) + intercept``; the one-feature
    dot is ``0.0 + coef * x``, so this column is bit-identical to it and
    skips the per-batch assembler, the Py4J param copy and the predict
    UDF.  A null or NaN feature raises at execution, as the assembler's
    default ``handleInvalid="error"`` does, instead of scoring NaN."""
    (coef,) = model.coefficients.toArray()
    x = F.col(FEATURE_COL)
    return batch.withColumn(
        "predicted_price",
        F.when(
            x.isNull() | F.isnan(x),
            F.raise_error(F.lit(f"invalid {FEATURE_COL} value for the price model")),
        ).otherwise(F.lit(coef) * x + F.lit(model.intercept)),
    )

def infer_with_fallback(model, batch: DataFrame) -> DataFrame:
    """M4: the reference's defensive wrapper -- lit(0.0) when the model is
    absent or transform fails (process_silver.py:64-80).  Every fallback
    logs a WARNING that names its cause, so a stream scoring zeros is
    visible."""
    if model is None:
        return fallback(batch, "no model loaded")
    try:
        return infer(model, batch)
    except Exception as exc:
        return fallback(batch, repr(exc))

def fallback(batch: DataFrame, cause: str) -> DataFrame:
    """The reference's ``lit(0.0)`` prediction, logged with its cause."""
    log.warning("predicted_price falls back to 0.0: %s", cause)
    return batch.withColumn("predicted_price", F.lit(0.0))

def ols_closed_form(silver: DataFrame, by_symbol: bool = True) -> DataFrame:
    """Closed-form 1-feature OLS per symbol -- the SQL-expressible twin of
    ``train`` used for oracle checking (DuckDB covar_pop/var_pop agree to
    float noise, absorbed by quantization)."""
    grouped = silver.groupBy("symbol") if by_symbol else silver.groupBy(F.lit(1).alias("g"))
    var = F.var_pop(FEATURE_COL)
    slope = F.covar_pop(FEATURE_COL, LABEL_COL) / var
    # guard the degenerate constant-feature group explicitly: ANSI mode
    # (Spark 4 default) raises on division by zero, and the CASE keeps the
    # semantics identical on the DuckDB oracle side
    return grouped.agg(
        F.when(var != 0, qround(slope, 6)).alias("slope"),
        F.when(var != 0, qround(F.avg(LABEL_COL) - slope * F.avg(FEATURE_COL), 6)).alias(
            "intercept"
        ),
        F.count(F.lit(1)).alias("n_obs"),
    )
