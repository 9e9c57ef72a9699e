"""Public model-apply API — the engine's ML surface.

This is the user-facing equivalent of the reference's workflow
(kjchavez/pyspark-caffe: load a model, broadcast it, run forward
passes over distributed data — SURVEY.md §0/§2.10, architecture per
the SparkNet family, arXiv:1511.06051). Models here are plain numpy
weight dicts — no framework dependency; swap `forward` for a real
framework call on clusters that have one.

Every function:
  * broadcasts weights once (executor-local thereafter),
  * runs inside Arrow-batched pandas UDFs (each batch = a minibatch),
  * keeps the DataFrame lazy — composable with any other operator.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from pyspark_caffe_spark.nputil import round_half_away
from pyspark_caffe_spark.vecops import _dot


@dataclass(frozen=True)
class LinearModel:
    """A (out_dim × in_dim) linear map + optional bias + activation."""

    weights: np.ndarray  # (out, in) or (in,) for scalar output
    bias: np.ndarray | float = 0.0
    activation: str = "identity"  # identity | sigmoid | relu | softmax

    def forward(self, x: np.ndarray) -> np.ndarray:
        z = x @ (self.weights.T if self.weights.ndim == 2 else self.weights)
        z = z + self.bias
        if self.activation == "sigmoid":
            return 1.0 / (1.0 + np.exp(-z))
        if self.activation == "relu":
            return np.maximum(z, 0.0)
        if self.activation == "softmax":
            e = np.exp(z - z.max(axis=-1, keepdims=True))
            return e / e.sum(axis=-1, keepdims=True)
        return z

    @classmethod
    def from_npz(cls, path: str, activation: str = "identity") -> "LinearModel":
        """Load weights saved via np.savez(path, weights=..., bias=...)."""
        data = np.load(path)
        return cls(
            weights=data["weights"],
            bias=data["bias"] if "bias" in data else 0.0,
            activation=activation,
        )


def _forward(
    df: DataFrame,
    model: LinearModel,
    input_col: str,
    output_col: str,
    ndigits: int | None,
    return_type: str,
    finish: Callable[[np.ndarray], object],
) -> DataFrame:
    """The one forward pass behind every public apply: broadcast
    ``model`` once, run ``forward`` per Arrow batch, round half away
    from zero when ``ndigits`` is set, and append ``finish(out)`` as
    ``output_col`` of ``return_type``."""
    bc = df.sparkSession.sparkContext.broadcast(model)

    @pandas_udf(return_type)
    def _apply(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        m = bc.value
        for s in batches:
            out = m.forward(np.stack(s.to_numpy()).astype(np.float64))
            if ndigits is not None:
                out = round_half_away(out, ndigits)
            yield pd.Series(finish(out))

    return df.withColumn(output_col, _apply(F.col(input_col).cast("array<double>")))


def score_column(df: DataFrame, model: LinearModel, input_col: str, output_col: str = "score", ndigits: int | None = None) -> DataFrame:
    """Append a scalar model score per row (reference: net.forward →
    single output blob)."""
    return _forward(df, model, input_col, output_col, ndigits, "double", lambda out: out)


def extract_features(df: DataFrame, model: LinearModel, input_col: str, output_col: str = "features", ndigits: int | None = None) -> DataFrame:
    """Append an array feature column (reference: blob extraction)."""
    return _forward(df, model, input_col, output_col, ndigits, "array<double>", list)


def predict_class(
    df: DataFrame,
    model: LinearModel,
    input_col: str,
    output_col: str = "pred",
    ndigits: int | None = None,
) -> DataFrame:
    """Append argmax class prediction from a multi-output model.

    With ``ndigits`` the argmax runs over ROUNDED scores (first-max
    wins, matching a SQL ``CASE GREATEST(...) WHEN ...`` in class
    order) so near-tie predictions are cross-engine stable — required
    for oracle-checked keys."""
    return _forward(
        df, model, input_col, output_col, ndigits, "int",
        lambda out: np.argmax(out, axis=1).astype("int32"),
    )


def train_parameter_averaging(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    dim: int,
    rounds: int = 3,
    local_steps: int = 20,
    lr: float = 0.05,
    partitions: int = 8,
) -> tuple[np.ndarray, list[float]]:
    """Parameter-averaging SGD for ridge-style linear regression — the
    SparkNet loop: broadcast w → local SGD per partition (mapInPandas)
    → collect K small weight vectors → average → repeat.

    Returns (final weights incl. bias, MSE history of length rounds+1 —
    one loss per pre-round weight vector PLUS the final averaged
    weights, so the last entry scores what you actually get back).
    The only driver-side data is K×(dim+1) floats per round.
    """
    data = df.select(
        F.col(feature_col).cast("array<double>").alias("x"),
        F.col(label_col).cast("double").alias("y"),
    ).repartition(partitions)
    data.cache()
    w = np.zeros(dim + 1)
    losses: list[float] = []

    def make_local_sgd(w0: np.ndarray) -> Callable:
        def local_sgd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            w = w0.copy()
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.hstack([np.stack(pdf["x"].to_numpy()), np.ones((len(pdf), 1))])
                y = pdf["y"].to_numpy()
                for _ in range(local_steps):
                    w -= lr * (2.0 * x.T @ (x @ w - y) / len(y))
            yield pd.DataFrame({"w": [list(w)]})

        return local_sgd

    def eval_mse(w: np.ndarray) -> float:
        wl = [float(v) for v in w]
        pred = _dot("x", F.array(*[F.lit(v) for v in wl[:dim]])) + F.lit(wl[dim])
        return float(
            data.select(F.avg(F.pow(pred - F.col("y"), 2)).alias("m")).collect()[0]["m"]
        )

    for _ in range(rounds):
        losses.append(eval_mse(w))
        local = data.mapInPandas(make_local_sgd(w), schema="w array<double>")
        w = np.mean([np.array(r["w"]) for r in local.collect()], axis=0)
    losses.append(eval_mse(w))  # score the FINAL averaged weights too

    data.unpersist()
    return w, losses
