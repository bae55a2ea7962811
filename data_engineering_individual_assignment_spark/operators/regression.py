"""OLS regression operators (SURVEY §2.10 U1/U2, §2.4 A5/A6).

The reference fits views->comments in an AWS Lambda with hand-rolled
Python loops (``lambda_function_final.py:22-99``).  Here:

- ``ols_fit``: closed-form simple OLS as ONE aggregation —
  b1 = covar_pop(x,y)/var_pop(x), b0 = ȳ − b1·x̄.  No collect; returns a
  1-row DataFrame.  ``ols_fit_rmse`` adds the in-sample RMSE to that
  same aggregation (the daily model artifact).
- ``evaluate``: the reference's evaluate_algorithm (fit on train,
  RMSE on test) with either the seeded Bernoulli split (randomSplit,
  like the reference's random.seed(1) sampling) or a deterministic
  modulo split for oracle-exact reproduction.  ŷ = b0 + b1·x (reference
  C9, ``LF:78-84``) and √(mean((ŷ−y)²)) (reference A6, ``LF:32-38``) are
  computed inline against the broadcast 1-row coefficient frame.
- ``fit_per_group``: per-group OLS via the same closed form — grouped
  aggregation, NOT a Python loop (SURVEY U4); scales to any number of
  groups.  It is the only per-group OLS: a grouped-map applyInPandas
  twin (numpy.polyfit per group) lost at every scale on 4 cores,
  0.50/1.06/3.89 s against 0.24/0.41/0.89 s (medians) at sf0.01, sf0.1
  and a 10x replica.  ``isotonic_fit`` serves the grouped-map pattern,
  for a model with no aggregation closed form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _slope(x: str, y: str) -> Column:
    """b1 = covar_pop(x,y)/var_pop(x).  try_divide: zero x-variance
    (constant or single-row input) yields a null slope instead of an
    ANSI divide-by-zero error."""
    return F.try_divide(F.covar_pop(x, y), F.var_pop(x))


def ols_fit(df: DataFrame, x: str, y: str) -> DataFrame:
    """1-row DataFrame (b0, b1, n) — closed-form simple OLS."""
    b1 = _slope(x, y)
    return df.agg(
        (F.avg(y) - b1 * F.avg(x)).alias("b0"),
        b1.alias("b1"),
        F.count("*").alias("n"),
    )


def ols_fit_rmse(df: DataFrame, x: str, y: str) -> DataFrame:
    """1-row DataFrame (b0, b1, rmse, n): ``ols_fit`` plus the in-sample
    RMSE in the SAME aggregation.  For the OLS line the mean squared
    residual is var_pop(y) − b1·covar_pop(x,y), so no second pass over
    the rows (and no broadcast of the coefficients back to them) is
    needed.  The difference can round a hair below zero on an exact
    fit, hence the clamp; rmse stays null where b1 is null."""
    b1 = _slope(x, y)
    mse = F.var_pop(y) - b1 * F.covar_pop(x, y)
    return df.agg(
        (F.avg(y) - b1 * F.avg(x)).alias("b0"),
        b1.alias("b1"),
        F.when(mse.isNotNull(), F.sqrt(F.greatest(mse, F.lit(0.0)))).alias("rmse"),
        F.count("*").alias("n"),
    )


def evaluate(
    df: DataFrame,
    x: str,
    y: str,
    train_fraction: float = 0.6,
    seed: int = 1,
    deterministic_key: str | None = None,
) -> DataFrame:
    """Fit on a train split, report RMSE on the rest (1-row DataFrame:
    b0, b1, rmse, n_train, n_test).

    With ``deterministic_key`` the split is (key % 10) < 10·fraction —
    exactly reproducible in any engine.  Otherwise Spark's seeded
    Bernoulli randomSplit is used (like the reference's random sampling:
    fraction is approximate, seed makes it repeatable within Spark).
    """
    if deterministic_key is not None:
        df = df.withColumn(
            "__is_train",
            (F.col(deterministic_key) % 10) < int(train_fraction * 10),
        )
        train = df.filter("__is_train").drop("__is_train")
        test = df.filter(~F.col("__is_train")).drop("__is_train")
    else:
        train, test = df.randomSplit([train_fraction, 1 - train_fraction], seed=seed)

    coefs = ols_fit(train, x, y).withColumnRenamed("n", "n_train")
    scored = test.crossJoin(F.broadcast(coefs)).withColumn(
        "yhat", F.col("b0") + F.col("b1") * F.col(x)
    )
    return scored.agg(
        F.first("b0").alias("b0"),
        F.first("b1").alias("b1"),
        F.sqrt(F.avg(F.pow(F.col("yhat") - F.col(y), 2))).alias("rmse"),
        F.first("n_train").alias("n_train"),
        F.count("*").alias("n_test"),
    )


def exact_random_split(
    df: DataFrame, train_fraction: float = 0.6, seed: int = 1
) -> tuple[DataFrame, DataFrame]:
    """U1 exact-count variant (SURVEY §4.3): randomSplit is Bernoulli
    (approximate counts); when the oracle demands an exact ⌈f·n⌉ train
    size, rank rows by rand(seed) and cut at the threshold.  One window
    over a random order — deterministic for a fixed seed and input."""
    from pyspark.sql import Window

    ranked = df.withColumn("__r", F.rand(seed)).withColumn(
        "__rn", F.row_number().over(Window.orderBy(F.col("__r"), F.monotonically_increasing_id()))
    )
    n = df.count()
    cut = int(train_fraction * n + 0.9999999)  # ceil
    train = ranked.filter(F.col("__rn") <= cut).drop("__r", "__rn")
    test = ranked.filter(F.col("__rn") > cut).drop("__r", "__rn")
    return train, test


def fit_per_group(df: DataFrame, group: str, x: str, y: str) -> DataFrame:
    """Per-group simple OLS (SURVEY U4) as a grouped aggregation: returns
    (group, b0, b1, n).  Groups with zero x-variance yield null b1."""
    b1 = _slope(x, y)
    return df.groupBy(group).agg(
        (F.avg(y) - b1 * F.avg(x)).alias("b0"),
        b1.alias("b1"),
        F.count("*").alias("n"),
    )


def ml_linear_regression(df: DataFrame, x: str, y: str):
    """pyspark.ml variant (SURVEY U2): returns the fitted model.  Gated
    behind import so environments without MLlib native deps still load
    this module."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    assembled = VectorAssembler(inputCols=[x], outputCol="features").transform(
        df.select(F.col(x).cast("double"), F.col(y).cast("double").alias("label"))
    )
    return LinearRegression(featuresCol="features", labelCol="label").fit(assembled)


def isotonic_fit(
    df: DataFrame, x: str, y: str, group: str | None = None
) -> DataFrame:
    """Isotonic (monotone nondecreasing) regression via pool-adjacent-
    violators (PAVA; Barlow et al. 1972), the standard probability-
    calibration fit.

    Scale shape: rows first collapse to DISTINCT-x grain (weighted mean
    of y per x) with one linear aggregation — PAVA's input is then
    x-cardinality sized, not row sized.  The sequential pooling pass
    runs per GROUP in applyInPandas (or one global group when
    ``group=None``: acceptable because the x-grain relation is
    vocabulary-scale; for a 100 TB continuous x, quantile-bucket x
    first).  Output: one row per distinct x with the fitted value —
    a step function to join back or interpolate against.

    Returns columns: [group,] x, n, y_mean, fit.
    """
    import numpy as np
    import pandas as pd

    keys = ([group] if group else []) + [x]
    grain = df.groupBy(*keys).agg(
        F.count("*").alias("n"), F.avg(y).alias("y_mean")
    )

    def pava(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(x).reset_index(drop=True)
        vals = pdf["y_mean"].to_numpy(dtype="float64")
        wts = pdf["n"].to_numpy(dtype="float64")
        # pools as (value, weight) with merge-on-violation
        pv: list[float] = []
        pw: list[float] = []
        sizes: list[int] = []
        for v, w in zip(vals, wts):
            pv.append(v)
            pw.append(w)
            sizes.append(1)
            while len(pv) > 1 and pv[-2] > pv[-1]:
                v2, w2, s2 = pv.pop(), pw.pop(), sizes.pop()
                pv[-1] = (pv[-1] * pw[-1] + v2 * w2) / (pw[-1] + w2)
                pw[-1] += w2
                sizes[-1] += s2
        fit = np.repeat(pv, sizes)
        pdf["fit"] = fit
        return pdf

    # the group column keeps ITS OWN type (hard-coding 'string' would
    # fail at runtime for numeric group keys — the signature promises
    # an arbitrary grouping column)
    schema = ", ".join(
        (
            [f"{group} {grain.schema[group].dataType.simpleString()}"]
            if group
            else []
        )
        + [f"{x} double", "n bigint", "y_mean double", "fit double"]
    )
    grain = grain.withColumn(x, F.col(x).cast("double"))
    if group:
        return grain.groupBy(group).applyInPandas(pava, schema=schema)
    return grain.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        lambda pdf: pava(pdf.drop(columns="__g")), schema=schema
    )
