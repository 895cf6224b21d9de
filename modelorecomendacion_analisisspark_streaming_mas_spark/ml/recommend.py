"""ALS recommendation module (SURVEY.md section 2.11, M1-M7).

Reference parity:
  M1  training config rank=20, maxIter=15, regParam=0.1, nonnegative,
      coldStartStrategy='drop' (Modelo/Crear modelo.ipynb:96-107; persisted
      params at Modelo/Modelo_als/als1/metadata/part-00000:1)
  M2  scoring via ALSModel.transform (Crear modelo.ipynb:108,150)
  M3  RMSE RegressionEvaluator (Crear modelo.ipynb:110)
  M4  recommendForAllUsers(5) (Crear modelo.ipynb:113)
  M5  ParamGridBuilder + TrainValidationSplit(trainRatio=0.8, parallelism=2)
      (Crear modelo.ipynb:584-610)
  M6  cold-start fold-in: ridge solve (Y_r^T Y_r + lambda I) u = Y_r^T r
      on the driver (app4/recommender.py:39-53) -- correct idiom for a
      catalog that fits in memory; ``fold_in_batch`` is the distributed twin.
  S12 save/load (ALSModel parquet factors + JSON metadata).

Scale notes: ALS itself is MLlib's blocked factorization (checkpointing
kicks in via spark.sparkContext.setCheckpointDir for >15 iterations at
100 TB); serving fold-in is O(catalog x rank) NumPy -- broadcastable.
Serving math stays on the request thread: the fold-in never calls a
threaded BLAS routine (``gemv``, ``gesv``). The serving process also
drives the live Structured Streaming query, and OpenBLAS's pool threads
spin between calls instead of sleeping; at 10 requests/s they never
sleep, and the spin takes three of four cores from the HTTP handlers
and the stream's trigger planning and commits (numpy 1.26 bundled
OpenBLAS on 4 cores: ``Y @ u`` on 2000x20 or a 20x20 ``np.linalg.solve``
at 10 calls/s costs 300% CPU; ``einsum`` and ``eigh`` cost nothing
measurable). No thread cap is set instead: that would be process-global
BLAS state, and every other NumPy user in the process would inherit it.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.ml.tuning import ParamGridBuilder, TrainValidationSplit
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REFERENCE_PARAMS = {"rank": 20, "maxIter": 15, "regParam": 0.1}


def ratings_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ratings derived from the star schema: user =
    o_custkey, item = l_partkey. The rating carries a planted low-rank
    signal (a function of user-group x item-group, matrix rank <= 5) plus a
    small quantity-derived noise term, so ALS has real structure to learn
    -- mirroring MovieLens' taste structure rather than white noise."""
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    signal = 1 + ((F.col("o_custkey") % 7) * (F.col("l_partkey") % 5)) % 4
    noise = F.col("l_quantity").cast("int") % 2
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # a rating without a user or item identity is untrainable: ALS.fit
        # itself raises 'Ids MUST NOT be Null' mid-job (r14 nullkeys
        # find), so quarantine NULL-key rows at ratings build -- the
        # standard ingest rule for id-keyed training data
        .filter(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .select(
            F.col("o_custkey").cast("int").alias("userId"),
            F.col("l_partkey").cast("int").alias("itemId"),
            (signal + noise).cast("float").alias("rating"),
        )
        .dropDuplicates(["userId", "itemId"])  # A7, Crear modelo.ipynb:89
    )


def build_als(
    rank: int = 20,
    max_iter: int = 15,
    reg_param: float = 0.1,
    seed: int = 42,
    num_blocks: int = 8,
) -> ALS:
    """Reference model params (rank/maxIter/regParam pinned to
    Crear modelo.ipynb:96-107). ``num_blocks`` is an EXECUTION knob, not
    semantics: it sets ALS's user/item blocking, which sizes the per-
    iteration all-to-all exchange. Measured at sf0.1 on local[32]:
    8 blocks 6.2s, 10 (MLlib default) 9.6s, 32 blocks 30s (communication
    overhead swamps compute) -- equivalent RMSE throughout. On a cluster,
    scale it with the ratings volume so each block's factor slice stays
    ~tens of MB (MLlib's guidance), not with core count."""
    return ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        userCol="userId",
        itemCol="itemId",
        ratingCol="rating",
        coldStartStrategy="drop",
        nonnegative=True,
        seed=seed,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
    )


def train_eval(
    ratings: DataFrame, seed: int = 42, **params
) -> tuple[ALSModel, float]:
    """80/20 split + RMSE, the reference's acceptance test
    (Crear modelo.ipynb:93,110)."""
    train, test = ratings.randomSplit([0.8, 0.2], seed=seed)
    model = build_als(seed=seed, **params).fit(train)
    preds = model.transform(test)
    rmse = RegressionEvaluator(
        metricName="rmse", labelCol="rating", predictionCol="prediction"
    ).evaluate(preds)
    return model, rmse


def tune_als(
    ratings: DataFrame,
    ranks: list[int] = [10, 20],
    regs: list[float] = [0.05, 0.1],
    iters: list[int] = [10, 15],
    seed: int = 42,
) -> tuple[ALSModel, list[tuple[dict, float]]]:
    """M5: grid search with TrainValidationSplit(trainRatio=0.8,
    parallelism=2) over the reference's exact grid."""
    als = build_als(seed=seed)
    grid = (
        ParamGridBuilder()
        .addGrid(als.rank, ranks)
        .addGrid(als.regParam, regs)
        .addGrid(als.maxIter, iters)
        .build()
    )
    tvs = TrainValidationSplit(
        estimator=als,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            metricName="rmse", labelCol="rating", predictionCol="prediction"
        ),
        trainRatio=0.8,
        parallelism=2,
        seed=seed,
    )
    fitted = tvs.fit(ratings)
    results = [
        ({p.name: v for p, v in pm.items()}, m)
        for pm, m in zip(grid, fitted.validationMetrics)
    ]
    return fitted.bestModel, results


# Hard ceiling on the collected item-factor table for in-process serving:
# 1M items x rank<=20 doubles ~ 160 MB on the driver, the upper end of what
# a serving process should hold. Bigger catalogs must use fold_in_batch
# (distributed, factors broadcast per-executor, never driver-collected).
ITEM_FACTOR_COLLECT_LIMIT = 1_000_000


def item_factor_matrix(model: ALSModel) -> tuple[np.ndarray, np.ndarray]:
    """Item factors to NumPy (ids, Y) -- the serving-side load
    (app4/recommender.py:33-36)."""
    # Same counted-decision pattern as cosine_near_dup_matmul: a bounded
    # limit+1 probe (never a full count) decides whether the collect is
    # safe, with a loud pointer at the distributed twin.
    probe = model.itemFactors.select("id").limit(ITEM_FACTOR_COLLECT_LIMIT + 1).count()
    if probe > ITEM_FACTOR_COLLECT_LIMIT:
        raise ValueError(
            f"item_factor_matrix collects itemFactors to the driver and the "
            f"table exceeds {ITEM_FACTOR_COLLECT_LIMIT} rows; use "
            f"fold_in_batch for catalogs this large."
        )
    rows = model.itemFactors.orderBy("id").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    Y = np.array([r["features"] for r in rows], dtype=np.float64)
    return ids, Y


def _ridge_solve(Yr: np.ndarray, r: np.ndarray, reg: float) -> np.ndarray:
    """Solve the fold-in ridge system (Yr^T Yr + reg * n * I) u = Yr^T r
    (app4/recommender.py:39-46) on the calling thread.

    The products are ``einsum`` loops, which never enter BLAS, and the
    solve is a symmetric eigendecomposition, whose LAPACK path stays
    single-threaded at ALS ranks. ``np.linalg.solve`` would run LU through
    OpenBLAS's thread pool (module docstring, scale notes). For reg > 0
    the matrix is positive definite, so every eigenvalue is >= reg * n.
    """
    A = np.einsum("ni,nj->ij", Yr, Yr) + reg * len(r) * np.eye(Yr.shape[1])
    b = np.einsum("ni,n->i", Yr, r)
    w, V = np.linalg.eigh(A)
    return np.einsum("ij,j->i", V, np.einsum("ji,j->i", V, b) / w)


def fold_in(
    item_ids: np.ndarray,
    Y: np.ndarray,
    seed_ratings: list[tuple[int, float]],
    reg: float = 0.1,
    top_n: int = 5,
    exclude_rated: bool = True,
) -> list[tuple[int, float]]:
    """M6: cold-start user vector from seed ratings via the ridge normal
    equations, then score the full catalog. Pure function of (factors,
    ratings) -- tested for agreement with ALSModel.transform on known users.

    All of it runs on the calling thread (see ``_ridge_solve``); the
    catalog scores are an ``einsum`` rather than ``Y @ u``. Trade-off: at
    the 1M-item collect ceiling the single-threaded ``einsum`` takes
    20-26 ms, where a threaded ``gemv`` takes 6-9 ms on an idle 4-core
    host (17-26 ms on one thread) but spins the BLAS pool between
    requests. No benchmarked catalog is that large.
    """
    rmap = {int(i): float(v) for i, v in seed_ratings}
    mask = np.isin(item_ids, np.array(list(rmap), dtype=np.int64))
    Yr = Y[mask]
    if Yr.size == 0:
        return []
    # align ratings to Yr's row order (item_ids order), NOT seed order
    r = np.array([rmap[int(i)] for i in item_ids[mask]], dtype=np.float64)
    u = _ridge_solve(Yr, r, reg)
    scores = np.einsum("ij,j->i", Y, u)
    if exclude_rated:
        scores = np.where(mask, -np.inf, scores)
    top = np.argpartition(-scores, min(top_n, len(scores) - 1))[:top_n]
    top = top[np.argsort(-scores[top])]
    return [(int(item_ids[i]), float(scores[i])) for i in top]


def fold_in_batch(
    model: ALSModel, seed_df: DataFrame, reg: float = 0.1
) -> DataFrame:
    """Distributed twin of ``fold_in`` for batches of new users: join seed
    ratings to broadcast item factors, solve per-user ridge systems with
    applyInPandas (Arrow-vectorized, one small solve per user group)."""
    import pandas as pd

    from ..shipping import ensure_package_shipped

    # ``solve`` reaches ``_ridge_solve`` by reference: workers import it
    ensure_package_shipped(seed_df.sparkSession)
    factors = F.broadcast(model.itemFactors.withColumnRenamed("id", "itemId"))
    joined = seed_df.join(factors, "itemId")

    # no type hints: under postponed annotations they reach PySpark as
    # strings, and the eval-type inference warns on every registration
    def solve(key, pdf):
        Yr = np.array(pdf["features"].tolist(), dtype=np.float64)
        r = pdf["rating"].to_numpy(dtype=np.float64)
        u = _ridge_solve(Yr, r, reg)
        return pd.DataFrame({"userId": [key[0]], "features": [u.tolist()]})

    return joined.groupBy("userId").applyInPandas(
        solve, schema="userId int, features array<double>"
    )


def implicit_interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback matrix from the star schema: interaction strength
    = how many lineitems a customer has for a part (purchase frequency as
    confidence, the Hu-Koren-Volinsky formulation ALS's implicitPrefs
    implements). No explicit rating column exists in this regime -- the
    model learns preference from observed strength."""
    from ..sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # same NULL-id quarantine as the explicit ratings builder: ALS.fit
        # raises on NULL ids, and an interaction without a user or item
        # identity carries no signal (r14 nullkeys find)
        .filter(F.col("o_custkey").isNotNull() & F.col("l_partkey").isNotNull())
        .groupBy(
            F.col("o_custkey").cast("int").alias("userId"),
            F.col("l_partkey").cast("int").alias("itemId"),
        )
        .agg(F.count(F.lit(1)).cast("float").alias("rating"))
    )


def build_implicit_als(
    rank: int = 8,
    max_iter: int = 8,
    reg_param: float = 0.1,
    alpha: float = 10.0,
    seed: int = 42,
    num_blocks: int = 8,
) -> ALS:
    """Implicit-preference ALS: confidence c_ui = 1 + alpha * strength,
    preference p_ui = 1 if observed. Same blocking rationale as
    build_als; alpha=10 is a conventional starting point for
    count-valued strengths."""
    return ALS(
        rank=rank,
        maxIter=max_iter,
        regParam=reg_param,
        implicitPrefs=True,
        alpha=alpha,
        userCol="userId",
        itemCol="itemId",
        ratingCol="rating",
        coldStartStrategy="drop",
        seed=seed,
        numUserBlocks=num_blocks,
        numItemBlocks=num_blocks,
    )
