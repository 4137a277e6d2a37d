"""Serving layer — functional parity with the reference's web service.

The reference (upstream:app.py / upstream:server.py) exposes three HTTP
routes over a long-lived engine object:

  GET  /<user_id>/ratings/top/<count>   -> top-N unseen recommendations
  GET  /<user_id>/ratings/<item_id>     -> predicted score for one item
  POST /<user_id>/ratings               -> append ratings, retrain, reserve

This module is the engine-side equivalent, built entirely from the
registered operators (§2.10): a ``RecommendationService`` holds the
trained artifacts for a corpus and answers the three calls.  No HTTP
framework is bundled (the container has none; any of Flask/FastAPI would
wrap these three methods 1:1) — the point is that every semantic the
reference serves is reachable through this engine.

The reference's biggest wart is fixed here, not reproduced: its POST
retrains ALS from scratch on every write (upstream:engine.py §
add_ratings — minutes of latency per rating).  ``add_ratings`` instead
folds the affected users in against frozen item factors (als_foldin's
Gram-trick solve, O(rank² · interactions-of-user) per write) and defers
full retrain to an explicit ``retrain()`` — the production cadence:
per-write fold-in, nightly refit.

Scale: a read folds the requesting user in on the driver — one filtered
collect of their rows from the cached matrix, their rows from the
in-memory append log, one collect of the item factors they rated or
asked about, and a rank x rank solve (``foldin_solve``) against the YtY
kept once per model.  Driver memory is bounded by that user's
interaction count plus rank², never by the corpus; the one per-read pass
over shared state is the append log, which a retrain clears.  What stays
distributed: the Gram itself (one mapInPandas job per model, run by the
first read after a fit or load), the batch fold-in (``als_foldin``), and
the top-N scan — a bounded ``orderBy().limit()`` over the cached factors
of the items that clear the popularity gate.
"""

from __future__ import annotations

import threading

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .queries.recommender import _ALS_PARAMS, _ratings, foldin_solve, item_gram

MIN_AUDIENCE = 25  # the reference's ">= 25 ratings" popularity rule
# save()'s append-log file; load() reads it with this schema, not an
# inference job over the parquet footer
_LOG_SCHEMA = "user_id int, item_id int, strength double, pending boolean"


def foldin_factors(service, user_id: int, item_ids=()):
    """Fold one user in on the driver against the service's frozen item
    factors.  Returns ``(factor, seen, y)``: the user's factor as a list
    (None when no rated item has a factor — the batch fold-in yields no
    row for such a user), the set of items the user has rated, and the
    factors of those ``item_ids`` the model knows, by item id.

    Two Spark jobs: the user's rows from the cached matrix, then the
    factors of the rated and requested items from the cached item
    factors.  The append log's rows for the user merge in by summing
    strengths per item, as ``_current_ratings`` does."""
    with service._extra_lock:  # base and log from the same generation
        base = service._ratings
        extra = [(i, s) for u, i, s in service._extra_rows if u == user_id]
    model = service.model
    strength = {
        r.item_id: r.strength
        for r in base.filter(F.col("user_id") == user_id)
        .select("item_id", "strength")
        .collect()
    }
    for i, s in extra:
        strength[i] = strength.get(i, 0.0) + s
    if not strength:
        return None, set(), {}
    want = sorted(set(strength) | set(item_ids))
    y = {
        r.item_id: r.y
        for r in service._item_factors.filter(F.col("item_id").isin(want))
        .select("item_id", "y")
        .collect()
    }
    rated = sorted(i for i in strength if i in y)
    factor = None
    if rated:
        factor = foldin_solve(
            service._gram(model),
            np.array([y[i] for i in rated], dtype="float64"),
            np.array([strength[i] for i in rated], dtype="float64"),
        ).tolist()
    return factor, set(strength), {i: y[i] for i in item_ids if i in y}


def _dot(x, y) -> float:
    # left to right from 0.0, as the top-N scan's aggregate(zip_with):
    # a per-item read and a top-N read score an item bit-identically
    acc = 0.0
    for a, b in zip(x, y):
        acc += a * b
    return acc


class RecommendationService:
    """Long-lived per-corpus serving object (the reference's
    RecommendationEngine, DataFrame-native)."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._ratings = _ratings(spark, sf_dir).cache()
        self._extra_rows: list[tuple[int, int, float]] = []
        # appended rows a retrain already merged into _ratings: save()
        # keeps them so a loaded service rebuilds the same matrix
        self._retrained_rows: list[tuple[int, int, float]] = []
        # ThreadingHTTPServer serves each request on its own thread: a
        # POST's extend must not interleave with a GET's read of the
        # append log, or a fold-in could observe half a batch.
        self._extra_lock = threading.Lock()
        self._fit()

    # -- training ---------------------------------------------------------

    def _fit(self) -> None:
        from pyspark.ml.recommendation import ALS

        self.model = ALS(**_ALS_PARAMS).fit(self._ratings)
        self._derive_serving_artifacts()

    def _derive_serving_artifacts(self) -> None:
        """Serving caches derived from (model, base ratings) — shared by
        a fresh fit and a warm-start load."""
        self._item_factors = self.model.itemFactors.select(
            F.col("id").alias("item_id"),
            F.col("features").cast("array<double>").alias("y"),
        ).cache()
        self._popular = (
            self._ratings.groupBy("item_id")
            .agg(F.countDistinct("user_id").alias("n_users"))
            .filter(F.col("n_users") >= MIN_AUDIENCE)
            .select("item_id")
        )
        # the top-N scan's input: one broadcast join per model, not per read
        self._popular_factors = self._item_factors.join(
            F.broadcast(self._popular), "item_id"
        ).cache()
        # (model, YtY) of the frozen item factors, filled by the first
        # fold-in: computed here it would run on a cold Python worker
        # inside every load()
        self._yty = None

    def _gram(self, model) -> np.ndarray:
        """YtY for ``model``, computed once per model.  Kept as a pair so
        that a read racing a retrain never solves the new model's rows
        against the old model's Gram."""
        pair = self._yty
        if pair is None or pair[0] is not model:
            pair = (model, item_gram(model))
            self._yty = pair
        return pair[1]

    # -- persistence (warm-start) ------------------------------------------

    def save(self, path: str) -> None:
        """Persist the trained ALS model + the append log.

        The upstream lifecycle refits at every boot (its engine holds the
        model only in memory); a real deployment wants the nightly-retrain
        artifact reloadable, so a restarted process answers its first
        request in seconds, not after a full ALS fit.  Uses MLlib's own
        ``ALSModel`` writer (factors as parquet + params as JSON) — the
        factors are distributed DataFrames, so save/load never funnels
        them through the driver.  The append log rides along as parquet
        so pending fold-in state survives the restart too, and so do the
        appended rows earlier retrains merged into the matrix."""
        base = path.rstrip("/")
        self.model.write().overwrite().save(base + "/als_model")
        with self._extra_lock:
            extra = [r + (False,) for r in self._retrained_rows]
            extra += [r + (True,) for r in self._extra_rows]
        self.spark.createDataFrame(extra, _LOG_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(base + "/extra_ratings.parquet")

    @classmethod
    def load(
        cls, spark: SparkSession, sf_dir: str, path: str
    ) -> "RecommendationService":
        """Warm-start a service from ``save()`` output: no ALS refit —
        the model's factor DataFrames load straight from parquet, and the
        serving caches re-derive from them + the corpus ratings."""
        from pyspark.ml.recommendation import ALSModel

        base = path.rstrip("/")
        svc = cls.__new__(cls)
        svc.spark = spark
        svc.sf_dir = sf_dir
        svc._extra_lock = threading.Lock()
        svc.model = ALSModel.load(base + "/als_model")
        svc._extra_rows, svc._retrained_rows = [], []
        for u, i, s, pending in (
            spark.read.schema(_LOG_SCHEMA)
            .parquet(base + "/extra_ratings.parquet")
            .collect()
        ):
            (svc._extra_rows if pending else svc._retrained_rows).append((u, i, s))
        svc._ratings = svc._merge(
            _ratings(spark, sf_dir), svc._retrained_rows
        ).cache()
        svc._derive_serving_artifacts()
        return svc

    def retrain(self) -> None:
        """Full refit over base + appended ratings (the nightly path).

        The append log merges into the base and CLEARS atomically — without
        the clear, the next ``_current_ratings()`` would union the same
        rows onto a base that already contains them and double-count their
        strengths."""
        # release the previous cached generation BEFORE swapping: each
        # retrain otherwise leaks three executor-storage entries (merged
        # ratings + item factors + popular items' factors) per cycle — the
        # same un-unpersisted-cache accumulation fixed in dedup_near_minhash
        old_ratings = self._ratings
        old_factors = getattr(self, "_item_factors", None)
        old_popular_factors = getattr(self, "_popular_factors", None)
        with self._extra_lock:
            self._ratings = self._merge(
                self._ratings, list(self._extra_rows)
            ).cache()
            self._retrained_rows += self._extra_rows
            self._extra_rows.clear()
        for df in (old_factors, old_popular_factors):
            if df is not None:
                df.unpersist()
        self._fit()
        if old_ratings is not self._ratings:
            old_ratings.unpersist()

    # -- state ------------------------------------------------------------

    def _merge(
        self, base: DataFrame, extra_rows: list[tuple[int, int, float]]
    ) -> DataFrame:
        if not extra_rows:
            return base
        extra = self.spark.createDataFrame(
            extra_rows, "user_id int, item_id int, strength double"
        )
        return (
            base.unionByName(extra)
            .groupBy("user_id", "item_id")
            .agg(F.sum("strength").alias("strength"))
        )

    def _current_ratings(self) -> DataFrame:
        # Snapshot BASE AND LOG under one lock: retrain() swaps the base
        # and clears the log atomically, so reading self._ratings outside
        # the lock could pair a post-retrain base (which already contains
        # the appended rows) with a pre-retrain log snapshot and
        # double-count those strengths.
        with self._extra_lock:
            base = self._ratings
            extra_rows = list(self._extra_rows)
        return self._merge(base, extra_rows)

    # -- the three reference endpoints ------------------------------------

    def top_ratings(self, user_id: int, count: int) -> list[dict]:
        """GET /<user>/ratings/top/<count>: top-N unseen popular items."""
        x, seen, _ = foldin_factors(self, user_id)
        if x is None:
            return []
        score = F.aggregate(
            F.zip_with(F.array(*map(F.lit, x)), "y", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        rows = (
            self._popular_factors.filter(~F.col("item_id").isin(sorted(seen)))
            .select("item_id", score.alias("score"))
            .orderBy(F.col("score").desc(), "item_id")
            .limit(count)
            .collect()
        )
        return [r.asDict() for r in rows]

    def ratings_for_items(self, user_id: int, item_ids: list[int]) -> list[dict]:
        """GET /<user>/ratings/<item>: predicted strength for given items."""
        x, _, y = foldin_factors(self, user_id, item_ids)
        if x is None:
            return []
        return [
            {"item_id": i, "score": _dot(x, y[i])}
            for i in dict.fromkeys(item_ids)
            if i in y
        ]

    def add_ratings(self, rows: list[tuple[int, int, float]]) -> int:
        """POST /<user>/ratings: append interactions; affected users are
        served via fold-in immediately (no retrain).  Returns the number of
        ratings accepted in THIS call (the natural POST response)."""
        batch = [(int(u), int(i), float(s)) for u, i, s in rows]
        with self._extra_lock:  # atomic append: readers see whole batches
            self._extra_rows.extend(batch)
        return len(batch)

    @property
    def pending_foldin_backlog(self) -> int:
        """Rows appended since the last full retrain (ops metric)."""
        with self._extra_lock:
            return len(self._extra_rows)
