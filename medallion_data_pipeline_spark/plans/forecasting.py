"""Demand forecasting: per-entity model fan-out via applyInPandas.

The reference forks a process pool and fits Prophet/SARIMAX/LightGBM
per (level, entity) series (forecasting.py:214-241,372-376). The exact
Spark-native analogue is ``groupBy(level, entity).applyInPandas`` —
executors replace the pool, each group gets its series as a pandas
frame (SURVEY §2.9 U2).

Heavy model deps are OPTIONAL (absent in this container): the worker
tries Prophet/SARIMAX-style models only if importable and otherwise
uses a deterministic seasonal-naive + linear-drift model (pure numpy),
so the pipeline shape — series building, spine zero-fill, fan-out,
horizon forecast, ±bounds, run_id overwrite — is fully exercised.

Feature windows (lag_1/lag_7/roll_mean_7) for a global model live in
queries/analytics.py::lag_rolling_features (SURVEY W1/W2, U3).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._util import read_table

FORECAST_SCHEMA = ("level string, entity_id string, ds date, yhat double, "
                   "yhat_lower double, yhat_upper double, model string, "
                   "granularity string, run_id string")

MIN_SERIES_LEN = 14  # reference forecasting.py:58


#: level -> silver supply_orders entity column NAME (names, not
#: Column objects: this module imports inside applyInPandas workers,
#: where building a Column would touch the absent executor-side
#: SparkContext)
_ENTITY_COLS = {
    "product": "product_id",
    "warehouse": "warehouse_id",
    "store": "retail_store_id",
}


def build_series(orders: DataFrame, level: str) -> DataFrame:
    """Daily (ds, y) demand series per entity with a continuous date
    spine and zero-fill (reference forecasting.py:120-165) — the spine
    via sequence+explode, not a driver-side reindex."""
    entity = F.col(_ENTITY_COLS[level])
    daily = (
        orders.filter(entity.isNotNull() & F.col("order_date").isNotNull())
        .groupBy(entity.cast("string").alias("entity_id"),
                 F.col("order_date").alias("ds"))
        .agg(F.sum("quantity").alias("y"))
    )
    spine = (
        daily.groupBy("entity_id")
        .agg(F.min("ds").alias("d0"), F.max("ds").alias("d1"))
        .select("entity_id", F.explode(F.sequence("d0", "d1")).alias("ds"))
    )
    return (
        spine.join(daily, ["entity_id", "ds"], "left")
        .select("entity_id", "ds", F.coalesce("y", F.lit(0)).cast("double").alias("y"))
    )


def _seasonal_naive_forecast(pdf: pd.DataFrame, horizon: int, season: int = 7):
    """Deterministic fallback model: weekly seasonal-naive plus linear
    drift, ±20% bounds (the reference's default-bounds rule,
    forecasting.py:422-425)."""
    import numpy as np

    y = pdf["y"].to_numpy(dtype=float)
    last_season = y[-season:] if len(y) >= season else np.resize(y, season)
    drift = (y[-1] - y[0]) / max(len(y) - 1, 1)
    steps = np.arange(1, horizon + 1)
    yhat = last_season[(steps - 1) % season] + drift * steps
    yhat = np.maximum(yhat, 0.0)
    return yhat, yhat * 0.8, yhat * 1.2


def _prophet_forecast(pdf: pd.DataFrame, horizon: int):
    """Fit a real Prophet model on the (ds, y) series (reference
    forecasting.py:168-183). Raises ImportError when the optional dep
    is absent — the worker dispatches to the next model."""
    from prophet import Prophet

    m = Prophet(weekly_seasonality=True, daily_seasonality=False,
                yearly_seasonality=False)
    m.fit(pdf[["ds", "y"]].assign(ds=pd.to_datetime(pdf["ds"])))
    future = m.make_future_dataframe(periods=horizon, include_history=False)
    fc = m.predict(future)
    import numpy as np

    return (np.maximum(fc["yhat"].to_numpy(float), 0.0),
            np.maximum(fc["yhat_lower"].to_numpy(float), 0.0),
            np.maximum(fc["yhat_upper"].to_numpy(float), 0.0))


def _sarimax_forecast(pdf: pd.DataFrame, horizon: int):
    """Fit SARIMAX(1,1,1)x(1,1,1,7) via statsmodels (reference
    forecasting.py:185-211). Raises ImportError when absent."""
    from statsmodels.tsa.statespace.sarimax import SARIMAX

    import numpy as np

    y = pdf["y"].to_numpy(float)
    res = SARIMAX(y, order=(1, 1, 1), seasonal_order=(1, 1, 1, 7),
                  enforce_stationarity=False,
                  enforce_invertibility=False).fit(disp=False)
    pred = res.get_forecast(horizon)
    conf = pred.conf_int(alpha=0.05)
    conf = conf.to_numpy() if hasattr(conf, "to_numpy") else conf
    return (np.maximum(pred.predicted_mean, 0.0),
            np.maximum(conf[:, 0], 0.0),
            np.maximum(conf[:, 1], 0.0))


#: model name -> fit function; tried in order under model="auto".
#: ImportError (dep absent in this container) falls through to the
#: next entry; any other fit failure also falls through — the
#: reference's per-series try/except-fallback (forecasting.py:214-241).
_MODEL_FITTERS: tuple[tuple[str, object], ...] = (
    ("prophet", _prophet_forecast),
    ("sarimax", _sarimax_forecast),
)


def make_forecast_worker(level: str, horizon: int, run_id: str, model: str = "auto"):
    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ds")
        if len(pdf) < MIN_SERIES_LEN:
            return pd.DataFrame(columns=[
                "level", "entity_id", "ds", "yhat", "yhat_lower", "yhat_upper",
                "model", "granularity", "run_id"])
        used = "seasonal_naive"
        yhat = lower = upper = None
        for name, fit in _MODEL_FITTERS:
            if model not in ("auto", name):
                continue
            try:
                yhat, lower, upper = fit(pdf, horizon)
                used = name
                break
            except ImportError:
                continue  # optional dep absent -> next model / fallback
            except Exception:
                continue  # fit blew up on this series -> fallback
        if yhat is None:
            yhat, lower, upper = _seasonal_naive_forecast(pdf, horizon)
            used = "seasonal_naive"
        last = pd.Timestamp(pdf["ds"].iloc[-1])
        ds = [last + pd.Timedelta(days=i) for i in range(1, horizon + 1)]
        return pd.DataFrame({
            "level": level,
            "entity_id": pdf["entity_id"].iloc[0],
            "ds": [d.date() for d in ds],
            "yhat": yhat, "yhat_lower": lower, "yhat_upper": upper,
            "model": used, "granularity": "daily", "run_id": run_id,
        })

    return worker


def _panel_features(series: DataFrame) -> DataFrame:
    """Global-model feature panel (reference forecasting.py:244-275):
    lag_1/lag_7/roll_mean_7 via Window (SURVEY W1/W2) + calendar
    features — computed distributed, NOT in driver pandas."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("entity_id").orderBy("ds")
    wf = w.rowsBetween(-6, 0)
    return (
        series.select(
            "entity_id", "ds", "y",
            F.lag("y", 1).over(w).alias("lag_1"),
            F.lag("y", 7).over(w).alias("lag_7"),
            F.avg("y").over(wf).alias("roll_mean_7"),
            (F.weekday("ds") + 1).cast("double").alias("isodow"),
            F.month("ds").cast("double").alias("month"),
        )
        .filter(F.col("lag_7").isNotNull())
    )


def _features_matrix(panel):
    import numpy as np

    return np.column_stack([
        np.ones(len(panel)),
        panel["lag_1"].to_numpy(float),
        panel["lag_7"].to_numpy(float),
        panel["roll_mean_7"].to_numpy(float),
        panel["isodow"].to_numpy(float),
        panel["month"].to_numpy(float),
    ])


def fit_global_linear_model(panel) -> list[float]:
    """Train ONE global model over the panel (the reference trains one
    LightGBM booster for all entities, forecasting.py:288-295). Here:
    ordinary least squares via numpy (no heavy dep) on
    [1, lag_1, lag_7, roll_mean_7, isodow, month] -> y."""
    import numpy as np

    X = _features_matrix(panel)
    y = panel["y"].to_numpy(float)
    theta, *_ = np.linalg.lstsq(X, y, rcond=None)
    return [float(t) for t in theta]


def fit_global_model(panel, model: str = "auto"):
    """(name, predict_fn) for the one-global-model stage: a real
    LightGBM booster when importable (the reference's booster,
    forecasting.py:288-295), else the OLS fallback. ``predict_fn``
    takes the feature row [1, lag_1, lag_7, roll_mean_7, isodow,
    month] so both paths drive the same autoregressive worker."""
    if model in ("auto", "lightgbm"):
        try:
            import lightgbm as lgb
            import numpy as np

            X = _features_matrix(panel)[:, 1:]  # booster needs no bias
            booster = lgb.train(
                {"objective": "regression", "verbosity": -1, "seed": 7,
                 "deterministic": True},
                lgb.Dataset(X, label=panel["y"].to_numpy(float)),
                num_boost_round=50)

            def predict(x: list[float]) -> float:
                return float(booster.predict(np.asarray([x[1:]]))[0])

            return "lightgbm", predict
        except ImportError:
            if model == "lightgbm":
                raise
    theta = fit_global_linear_model(panel)

    def predict(x: list[float]) -> float:
        import numpy as np

        return float(np.dot(theta, x))

    return "global_linear", predict


def make_autoregressive_worker(model, horizon: int, run_id: str, level: str):
    """Per-entity AUTOREGRESSIVE horizon loop (reference forecasting.py:
    297-335): predict one step, append it to the history, repeat —
    inherently sequential per entity, so it lives inside applyInPandas
    where each executor walks its own entities.

    ``model``: either a theta list (OLS coefficients over
    [1, lag_1, lag_7, roll_mean_7, isodow, month]) or a
    ``(name, predict_fn)`` pair from :func:`fit_global_model` — the
    predict closure (e.g. a pickled LightGBM booster) ships to
    executors inside the applyInPandas closure, the reference's
    one-booster-for-all-entities design."""
    if isinstance(model, tuple):
        model_name, predict = model
    else:
        theta = [float(t) for t in model]
        model_name = "global_linear"

        def predict(x: list[float]) -> float:
            import numpy as np

            return float(np.dot(theta, x))

    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("ds")
        if len(pdf) < MIN_SERIES_LEN:
            return pd.DataFrame(columns=[
                "level", "entity_id", "ds", "yhat", "yhat_lower", "yhat_upper",
                "model", "granularity", "run_id"])
        hist = list(pdf["y"].to_numpy(float))
        last = pd.Timestamp(pdf["ds"].iloc[-1])
        out_ds, out_y = [], []
        for step in range(1, horizon + 1):
            d = last + pd.Timedelta(days=step)
            roll7 = float(np.mean(hist[-7:]))
            x = [1.0, hist[-1], hist[-7] if len(hist) >= 7 else hist[0],
                 roll7, float(d.weekday() + 1), float(d.month)]
            pred = max(predict(x), 0.0)
            hist.append(pred)                      # autoregressive append
            out_ds.append(d.date())
            out_y.append(round(pred, 4))
        yhat = np.array(out_y)
        return pd.DataFrame({
            "level": level, "entity_id": pdf["entity_id"].iloc[0], "ds": out_ds,
            "yhat": yhat, "yhat_lower": yhat * 0.8, "yhat_upper": yhat * 1.2,
            "model": model_name, "granularity": "daily", "run_id": run_id,
        })

    return worker


def backtest_forecast(series: DataFrame, horizon: int = 30,
                      level: str = "backtest",
                      model: str = "seasonal_naive") -> DataFrame:
    """Hold-out backtest of the per-entity forecast fan-out: the final
    ``horizon`` days of every entity's series are withheld, the REAL
    applyInPandas worker (:func:`make_forecast_worker`) forecasts them
    from the prefix, and per-entity accuracy metrics are computed
    forecast-vs-actual.

    The reference *claims* "Forecast Accuracy: 85%+ for 30-day demand
    predictions" (README.md:364) but contains no code computing it —
    this operator closes that gap: ``accuracy_pct`` is the claim's
    standard definition, 100·(1 − MAPE), floored at 0.

    Per entity (entities whose train prefix has >= MIN_SERIES_LEN
    days): n_train, n_eval, mape (zero-actual days excluded), smape,
    bias (mean signed error), accuracy_pct, interval_coverage
    (fraction of actuals inside [yhat_lower, yhat_upper]).

    Determinism contract: per-day error terms are rounded to 8dp and
    summed as DECIMAL(18,8) — exact, order-independent — then divided
    in double and rounded to 6dp, so a SQL oracle replaying the same
    arithmetic hash-matches regardless of either engine's summation
    order.

    Scale shape: the cutoff frame is one row per entity (join on the
    already-shuffled entity key; AQE broadcasts it while it stays
    small); the worker fan-out and the forecast-vs-actual join both
    shuffle on entity_id only — the same single-key pattern as
    run_forecasts. Nothing collects to the driver.
    """
    cut = series.groupBy("entity_id").agg(
        F.date_sub(F.max("ds"), horizon).alias("_cut"))
    with_cut = series.join(cut, "entity_id")
    train = with_cut.filter(F.col("ds") <= F.col("_cut")).drop("_cut")
    actual = with_cut.filter(F.col("ds") > F.col("_cut")).drop("_cut")

    worker = make_forecast_worker(level, horizon, "backtest", model=model)
    fc = train.groupBy("entity_id").applyInPandas(worker, FORECAST_SCHEMA)
    n_train = train.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_train"))

    j = (
        fc.select("entity_id", "ds", "yhat", "yhat_lower", "yhat_upper")
        .join(actual, ["entity_id", "ds"])
        .join(n_train, "entity_id")
    )
    ae = F.abs(F.col("yhat") - F.col("y"))
    d18_8 = "decimal(18,8)"
    ape = F.when(F.abs("y") > 0, F.round(ae / F.abs("y"), 8).cast(d18_8))
    sm_den = F.abs("y") + F.abs("yhat")
    smape_t = F.when(
        sm_den > 0, F.round(F.lit(2.0) * ae / sm_den, 8).cast(d18_8))
    bias_t = F.round(F.col("yhat") - F.col("y"), 8).cast(d18_8)
    hit = F.when(
        (F.col("y") >= F.col("yhat_lower"))
        & (F.col("y") <= F.col("yhat_upper")), 1).otherwise(0)

    agg = j.groupBy("entity_id").agg(
        F.first("n_train").alias("n_train"),
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(ape).alias("_ape_sum"),
        F.count(ape).alias("_ape_n"),
        F.sum(smape_t).alias("_sm_sum"),
        F.count(smape_t).alias("_sm_n"),
        F.sum(bias_t).alias("_bias_sum"),
        F.sum(hit).alias("_hits"),
    )
    mape = F.round(
        F.when(F.col("_ape_n") > 0,
               F.col("_ape_sum").cast("double") / F.col("_ape_n")), 6)
    smape = F.round(
        F.when(F.col("_sm_n") > 0,
               F.col("_sm_sum").cast("double") / F.col("_sm_n")), 6)
    return agg.select(
        "entity_id", "n_train", "n_eval",
        mape.alias("mape"),
        smape.alias("smape"),
        F.round(F.col("_bias_sum").cast("double") / F.col("n_eval"), 6)
        .alias("bias"),
        F.round(
            F.greatest(F.lit(0.0), F.lit(100.0) * (F.lit(1.0) - mape)), 2)
        .alias("accuracy_pct"),
        F.round(F.col("_hits").cast("double") / F.col("n_eval"), 6)
        .alias("interval_coverage"),
    )


def run_global_forecast(spark: SparkSession, warehouse: str, level: str = "warehouse",
                        horizon: int = 14, run_id: str = "fc_global") -> DataFrame:
    """The U3 path end-to-end: distributed feature panel -> ONE global
    model fit (panel collected — it is aggregate-sized, entities x
    days, not fact-sized) -> per-entity autoregressive fan-out."""
    orders = read_table(spark, warehouse, "silver", "supply_orders")
    series = build_series(orders, level)
    panel = _panel_features(series).toPandas()
    model = fit_global_model(panel)  # lightgbm when importable, else OLS
    fc = series.groupBy("entity_id").applyInPandas(
        make_autoregressive_worker(model, horizon, run_id, level), FORECAST_SCHEMA)
    path = os.path.join(warehouse, "gold", "forecasts")
    fc.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("run_id").parquet(path)
    return read_table(spark, warehouse, "gold", "forecasts") \
        .filter(F.col("run_id") == run_id)


def build_series_multi(orders: DataFrame,
                       levels: tuple[str, ...]) -> DataFrame:
    """All levels' daily (level, entity_id, ds, y) series in ONE pass:
    each order row explodes to its (level, entity) pairs, then a
    single groupBy + date spine covers every level. Row-for-row
    identical to unioning :func:`build_series` per level (same
    filters, same cast, same zero-fill) but the fact table is scanned
    once instead of once per level and the whole stage chain —
    aggregate, spine join, worker fan-out — runs as one shuffle
    lineage keyed on (level, entity_id) instead of |levels| parallel
    copies. At 100 TB that is |levels|-1 fewer full scans and
    shuffle rounds."""
    pairs = F.array(*[
        F.struct(F.lit(lv).alias("level"),
                 F.col(_ENTITY_COLS[lv]).cast("string").alias("entity_id"))
        for lv in levels])
    exploded = (
        orders.filter(F.col("order_date").isNotNull())
        .select(F.explode(pairs).alias("le"),
                F.col("order_date").alias("ds"), "quantity")
        .select("le.level", "le.entity_id", "ds", "quantity")
        .filter(F.col("entity_id").isNotNull())
    )
    daily = exploded.groupBy("level", "entity_id", "ds").agg(
        F.sum("quantity").alias("y"))
    spine = (
        daily.groupBy("level", "entity_id")
        .agg(F.min("ds").alias("d0"), F.max("ds").alias("d1"))
        .select("level", "entity_id",
                F.explode(F.sequence("d0", "d1")).alias("ds"))
    )
    return (
        spine.join(daily, ["level", "entity_id", "ds"], "left")
        .select("level", "entity_id", "ds",
                F.coalesce("y", F.lit(0)).cast("double").alias("y"))
    )


def make_forecast_worker_multi(horizon: int, run_id: str,
                               model: str = "auto"):
    """Level-dispatching form of :func:`make_forecast_worker` for the
    single-pass fan-out: the group key carries (level, entity_id), so
    the worker reads the level from the group's rows instead of a
    per-level closure. Same models, same output schema."""
    def worker(pdf: pd.DataFrame) -> pd.DataFrame:
        return make_forecast_worker(
            str(pdf["level"].iloc[0]), horizon, run_id, model)(pdf)

    return worker


def run_forecasts(spark: SparkSession, warehouse: str,
                  levels: tuple[str, ...] = ("product", "warehouse", "store"),
                  horizon: int = 14, run_id: str = "fc_default") -> DataFrame:
    """Fan out per-entity forecasts for every level; overwrite the
    run_id partition (the reference's DELETE WHERE run_id + append,
    forecasting.py:86-105 -> partition overwrite in Spark). All
    levels run in one pass (:func:`build_series_multi`) — one fact
    scan, one shuffle chain, one Arrow fan-out, instead of one per
    level. Local wall is flat (the 50k stage is floor-bound: a NOOP
    applyInPandas over the same 270k-row grouping measures 1.4-1.5 s
    of shuffle+Arrow+worker fixed cost vs 2.3-2.6 s real); the win is
    structural — |levels|-1 fewer fact scans and shuffle rounds,
    which is what matters when the fact table is 100 TB, not 50k
    rows. Row-for-row equality with the per-level union is pinned by
    test_single_pass_forecast_equals_per_level."""
    orders = read_table(spark, warehouse, "silver", "supply_orders")
    series = build_series_multi(orders, levels)
    all_fc = series.groupBy("level", "entity_id").applyInPandas(
        make_forecast_worker_multi(horizon, run_id), FORECAST_SCHEMA)
    path = os.path.join(warehouse, "gold", "forecasts")
    all_fc.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("run_id").parquet(path)
    return read_table(spark, warehouse, "gold", "forecasts") \
        .filter(F.col("run_id") == run_id)
