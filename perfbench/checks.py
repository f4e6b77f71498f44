"""Output checks, run once per run outside the timed passes. Each returns
``None`` when the output is right and a one-line description otherwise."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import numpy as np
import pandas as pd

from perfbench import inputs

MESSAGE_DDL = (
    "message_id string, publish_time string, observations array<array<double>>, predicted_actions array<long>"
)


def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
    # pandas and DuckDB disagree on timestamp resolution, not on values
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[ns]")
    return out


def frame_diff(actual: pd.DataFrame | None, expected: pd.DataFrame, keys: list[str]):
    """Order-insensitive frame comparison; floats to 1e-9 relative."""
    if actual is None:
        return "no output (the operation failed)"
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    cols = sorted(actual.columns)
    a = _norm(actual[cols]).sort_values(keys).reset_index(drop=True)
    e = _norm(expected[cols]).sort_values(keys).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=False, rtol=1e-9)
    except AssertionError as err:
        return " ".join(str(err).split())[:1000]
    return None


# ---------------------------------------------------------------------------
# bandit_loop
# ---------------------------------------------------------------------------


class RatingsReference:
    """DuckDB reference for the feature store the startup pipeline fills:
    every rating of a user is imported at one wall-clock time, so the
    latest value of each feature is the tie-break winner, the largest
    string."""

    def __init__(self, u_data: str) -> None:
        con = duckdb.connect()
        self.latest = con.execute(
            f"""
            SELECT user_id AS entity_id, max(item_id) AS item_id, max(rating) AS rating,
                   max("timestamp") AS "timestamp"
            FROM read_csv('{u_data}', delim='\t', header=false,
                          columns={{'user_id': 'VARCHAR', 'item_id': 'VARCHAR',
                                    'rating': 'VARCHAR', 'timestamp': 'VARCHAR'}})
            GROUP BY user_id
            """
        ).df().set_index("entity_id")
        con.close()

    def pit_problems(self, pit: pd.DataFrame | None, spine: pd.DataFrame):
        want = self.latest.loc[spine["user_id"]].reset_index(drop=True)
        want.insert(0, "user_id", spine["user_id"].to_numpy())
        want.insert(1, "ts", spine["ts"].to_numpy())
        return frame_diff(pit, want, ["user_id", "ts"])

    def online_problems(self, frames: list, lookups: list[list[int]]):
        for i, (pdf, keys) in enumerate(zip(frames, lookups)):
            if pdf is None:
                return f"lookup {i}: no output (the operation failed)"
            want = self.latest.loc[sorted({str(k) for k in keys})].reset_index()
            problem = frame_diff(pdf.drop(columns=["bucket"]), want, ["entity_id"])
            if problem:
                return f"lookup {i}: {problem}"
        return None


def messages_from_predictions(preds: pd.DataFrame, cycle: int, redeliver: list[int]) -> list[tuple]:
    """Group scored rows into prediction messages of SLOTS_PER_MESSAGE slots;
    the ``redeliver`` messages are published twice with the same id and
    publish time, as an at-least-once queue would."""
    k = inputs.SLOTS_PER_MESSAGE
    msgs = []
    for m in range(len(preds) // k):
        rows = preds.iloc[m * k : (m + 1) * k]
        msgs.append(
            (
                f"c{cycle}-m{m}",
                f"2024-01-01 00:{cycle:02d}:{m:02d}",
                [[float(x) for x in o] for o in rows["obs"]],
                [int(a) for a in rows["predicted_action"]],
            )
        )
    return msgs + [msgs[i] for i in redeliver]


def sink_problems(spark, sink: str, published_ids: set[str]):
    ids = spark.read.parquet(sink).select("message_id").toPandas()["message_id"]
    if len(ids) != ids.nunique():
        return f"{len(ids) - ids.nunique()} duplicate message_id rows in the sink"
    if set(ids) != published_ids:
        return f"sink holds {len(set(ids))} ids, {len(published_ids)} distinct ids were published"
    return None


def linucb_problems(spark, model_path: str, tfrecord_dir: str, tikhonov: float = 0.01):
    """The retrained model's per-arm pulls, b vector and A diagonal against
    ``sufficient_stats_exact`` over the rows it was trained on."""
    from pyspark.sql import types as T

    from mlops_pipelines_featurestore_gcp_spark.ml.linucb import LinUCBModel, sufficient_stats_exact
    from mlops_pipelines_featurestore_gcp_spark.sources.tfrecord import read_tfrecords

    k, scale = inputs.RANK_K, 1_000_000
    schema = T.StructType(
        [
            T.StructField("obs", T.ArrayType(T.DoubleType())),
            T.StructField("action", T.LongType()),
            T.StructField("reward", T.DoubleType()),
        ]
    )
    rows = read_tfrecords(spark, tfrecord_dir, schema)
    stats = sufficient_stats_exact(rows, context_dim=k, scale=scale).toPandas().set_index("action")
    model = LinUCBModel.load(model_path)
    if int(stats["n_pulls"].sum()) != int(model.counts.sum()):
        return f"model saw {int(model.counts.sum())} rows, the training rows hold {int(stats['n_pulls'].sum())}"
    for a in range(len(model.counts)):
        n = int(stats["n_pulls"].get(a, 0))
        if n != int(model.counts[a]):
            return f"arm {a}: {int(model.counts[a])} pulls in the model, {n} in the rows"
        if n == 0:
            continue
        A = np.linalg.inv(model.a_inv[a])
        b = A @ model.theta[a]
        b_ref = np.array([stats.loc[a, f"b{i}_micro2"] for i in range(k)]) / scale**2
        d_ref = np.array([stats.loc[a, f"a{i}{i}_micro2"] for i in range(k)]) / scale**2 + tikhonov
        tol = 4e-6 * n
        if not np.allclose(b, b_ref, rtol=1e-5, atol=tol) or not np.allclose(np.diag(A), d_ref, rtol=1e-5, atol=tol):
            return f"arm {a}: sufficient statistics differ from sufficient_stats_exact"
    return None


def actions_problems(preds: list[pd.DataFrame], num_actions: int):
    acts = np.concatenate([p["predicted_action"].to_numpy() for p in preds])
    bad = int(((acts < 0) | (acts >= num_actions)).sum())
    return f"{bad} predicted actions outside [0, {num_actions})" if bad else None


# ---------------------------------------------------------------------------
# query_mix: registered DuckDB oracles with the gate's canonicalisation
# ---------------------------------------------------------------------------


def _verify_local():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("verify_local", os.path.join(root, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """The local differential gate's comparison (``tools/verify_local.py``):
    columns, row count, pandas dtype kinds, then order-insensitive
    canonical values."""

    def __init__(self, sf_dir: str) -> None:
        from mlops_pipelines_featurestore_gcp_spark.plans import oracle_sql_map
        from mlops_pipelines_featurestore_gcp_spark.sources.catalog import TABLE_NAMES

        self.oracles = oracle_sql_map()
        self.vl = _verify_local()
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def problems(self, name: str, schema, spdf: pd.DataFrame):
        nested = [f.name for f in schema.fields if f.dataType.typeName() in ("array", "map", "struct")]
        if nested:
            return f"nested output columns {nested}"
        oracle = self.oracles.get(name)
        if oracle is None:
            return None if len(spdf) else "no rows (rows-only query)"
        opdf = self.con.execute(oracle).df()
        if sorted(spdf.columns) != sorted(opdf.columns):
            return f"columns spark={sorted(spdf.columns)} oracle={sorted(opdf.columns)}"
        if len(spdf) != len(opdf):
            return f"rows spark={len(spdf)} oracle={len(opdf)}"
        for c in sorted(spdf.columns):
            sk, ok = self.vl.dtype_kind(spdf[c].dtype), self.vl.dtype_kind(opdf[c].dtype)
            if sk != ok:
                return f"dtype kind of {c!r}: spark {spdf[c].dtype} vs oracle {opdf[c].dtype}"
        sm, om = self.vl.frame_to_multiset(spdf), self.vl.frame_to_multiset(opdf)
        if sm != om:
            diff = [(a, b) for a, b in zip(sm, om) if a != b][:2]
            return f"values differ, first diffs: {diff}"[:1000]
        return None
