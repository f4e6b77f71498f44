"""The workloads. Each has a set-up (inputs generated from the seed and
staged on disk, plus one warm-up scan), an untimed warm-up, a pass (the
timed list of public calls), and output checks of the first outputs,
run once after the timed passes.

Why these two (the same reasons are in BENCHMARK.json):

- ``bandit_loop``: the reference's MLOps loop. ``pipeline``, ``ml``,
  ``sources``, the feature store (registry, import, point-in-time, online)
  and the streaming log loop do the work; ``operators.similarity``/``dedup``
  and ``plans`` do none.
- ``query_mix``: registered queries through ``plans``; ``plans``,
  ``operators`` and the rollup state store do the work; nothing writes
  feature values and ``pipeline`` does nothing.
"""

from __future__ import annotations

import os

from perfbench import checks, inputs

STREAM_TIMEOUT_S = 120.0

# Registered queries timed by query_mix, grouped by family.
QUERY_FAMILIES = {
    "relational": ("q01", "q03", "q05", "q09", "q12", "q20"),
    "retrieval": ("s01", "d02", "d05"),
    "rollup": ("st06",),
}
QUERY_IDS = tuple(q for family in QUERY_FAMILIES.values() for q in family)


class BanditLoop:
    """The reference's loop: ``run_startup_pipeline`` over a seeded u.data
    with a FeatureStore, once, then in every pass the loop's body on the
    store and model it built: the serving reads (a point-in-time training
    set, online materialization, Zipf-skewed online lookups) and retrain
    cycles: predict, publish NDJSON messages (some redelivered), drain them
    with the log loop, retrain on the sink. The warm-up is the startup
    pipeline and one pass: a pass right after the startup pipeline still
    runs each of its calls for the first time in the JVM, and its time
    varied more between runs than the next pass's."""

    name = "bandit_loop"
    min_passes = 1
    FS, ET = "movie_fs", "users"

    def __init__(self, run) -> None:
        self.run = run
        self.out: dict = {}
        self.extra: dict[str, list[float]] = {}
        self.online_path: str | None = None

    def setup(self) -> None:
        self.inp = inputs.bandit_inputs(self.run.seed)
        self.dir = os.path.join(self.run.data_dir, "bandit_inputs")
        os.makedirs(self.dir, exist_ok=True)
        self.u_data = f"{self.dir}/u.data"
        with open(self.u_data, "wb") as fh:
            fh.write(inputs.ratings_tsv(self.run.seed))
        inputs.write_parquet(self.inp["spine"], f"{self.dir}/spine.parquet")
        for c, cyc in enumerate(self.inp["cycles"]):
            inputs.write_parquet(cyc["obs"], f"{self.dir}/obs{c}.parquet")
        inputs.write_parquet(self.inp["item_factors"], f"{self.dir}/item_factors.parquet")
        spark = self.run.spark
        spark.read.csv(self.u_data, sep="\t").count()
        # the benchmark's own inputs, opened here so the pass times only
        # the package's calls
        self.spine = spark.read.parquet(f"{self.dir}/spine.parquet")
        self.item_factors = spark.read.parquet(f"{self.dir}/item_factors.parquet")
        self.obs = [spark.read.parquet(f"{self.dir}/obs{c}.parquet") for c in range(len(self.inp["cycles"]))]

    def _config(self):
        from mlops_pipelines_featurestore_gcp_spark import pipeline

        return pipeline.PipelineConfig(rank_k=inputs.RANK_K, num_actions=inputs.NUM_ACTIONS)

    def warm_up(self) -> None:
        from mlops_pipelines_featurestore_gcp_spark import pipeline
        from mlops_pipelines_featurestore_gcp_spark.feature_store import FeatureStore

        spark, work = self.run.spark, os.path.join(self.run.data_dir, "bandit_startup")
        self.store = FeatureStore(spark, f"{work}/fs")
        self.art = self.run.op(
            "pipeline.run_startup_pipeline",
            lambda: pipeline.run_startup_pipeline(
                spark, self.u_data, work, config=self._config(), feature_store=self.store
            ),
        )
        self.run_pass(0)

    def run_pass(self, p: int) -> None:
        from pyspark.sql import functions as F

        from mlops_pipelines_featurestore_gcp_spark import pipeline
        from mlops_pipelines_featurestore_gcp_spark.streaming import log_loop

        run, spark, op, FS, ET = self.run, self.run.spark, self.run.op, self.FS, self.ET
        work = os.path.join(run.data_dir, f"bandit_pass{p}")
        cfg = self._config()
        store, art = self.store, self.art
        if art is None:
            return

        pit = op(
            "feature_store.point_in_time_join",
            lambda: store.point_in_time_join(FS, ET, self.spine, spine_key="user_id", spine_time="ts").toPandas(),
        )
        online_path = op("feature_store.materialize_online", lambda: store.materialize_online(FS, ET))
        online = [
            op("feature_store.online_read", lambda: store.online_read(FS, ET, keys).toPandas())
            for keys in self.inp["lookups"]
        ]
        self.online_path = self.online_path or online_path

        model_path = art.model_path
        msg_dir, sink, ckpt = f"{work}/messages", f"{work}/sink", f"{work}/checkpoint"
        published_ids: set[str] = set()
        preds_all = []
        for c, cyc in enumerate(self.inp["cycles"]):
            preds = op("pipeline.predict", lambda: pipeline.predict(spark, model_path, self.obs[c]).toPandas())
            if preds is None:
                return
            preds_all.append(preds)
            msgs = checks.messages_from_predictions(preds, c, cyc["redeliver"])
            published_ids.update(m[0] for m in msgs)
            msg_df = spark.createDataFrame(msgs, checks.MESSAGE_DDL).withColumn(
                "publish_time", F.col("publish_time").cast("timestamp")
            )
            op("streaming.log_loop.publish_messages", lambda: log_loop.publish_messages(msg_df, msg_dir))
            q = op("streaming.log_loop.run_log_loop", lambda: self._drain(msg_dir, self.item_factors, sink, ckpt))
            if q is not None and p >= 1:
                self._stream_progress(q)
            retrained = op("pipeline.retrain", lambda: pipeline.retrain(spark, sink, f"{work}/retrain{c}", config=cfg))
            if retrained is None:
                return
            model_path = retrained
        if not self.out:
            self.out = {
                "pit": pit,
                "online": online,
                "sink": sink,
                "published_ids": published_ids,
                "preds": preds_all,
                "model_path": model_path,
                "tfrecords": f"{work}/retrain{len(self.inp['cycles']) - 1}/tfrecords",
            }

    def _drain(self, msg_dir, item_factors, sink, ckpt):
        from mlops_pipelines_featurestore_gcp_spark.streaming.log_loop import run_log_loop

        q = run_log_loop(self.run.spark, msg_dir, item_factors, sink, ckpt, available_now=True)
        self.run.tracer.add_group(str(q.runId))
        self.run.await_stream(q, STREAM_TIMEOUT_S)
        return q

    def _stream_progress(self, q) -> None:
        if not self.run.tracer.enabled:
            return
        prog = list(q.recentProgress)
        dur = [p["durationMs"] for p in prog]
        state = [s["numRowsTotal"] for p in prog for s in p["stateOperators"]]
        rows_in = sum(p["numInputRows"] for p in prog)
        ex = self.extra
        ex.setdefault("streaming.log_loop.add_batch_ms", []).append(sum(d.get("addBatch", 0) for d in dur))
        ex.setdefault("streaming.log_loop.query_planning_ms", []).append(sum(d.get("queryPlanning", 0) for d in dur))
        ex.setdefault("streaming.log_loop.wal_commit_ms", []).append(sum(d.get("walCommit", 0) for d in dur))
        ex.setdefault("streaming.log_loop.input_rows", []).append(rows_in)
        ex.setdefault("streaming.log_loop.state_rows", []).append(state[-1] if state else 0)
        ex.setdefault("streaming.log_loop.batches", []).append(len(prog))

    def finish_trace(self) -> None:
        """Read after the timed passes: the online table's row count."""
        if self.online_path:
            self.extra["_online_rows"] = [self.run.spark.read.parquet(self.online_path).count()]

    def checks(self) -> None:
        run, out = self.run, self.out
        ref = checks.RatingsReference(self.u_data)
        run.check("bandit.point_in_time_join", lambda: ref.pit_problems(out["pit"], self.inp["spine"]))
        run.check("bandit.online_read", lambda: ref.online_problems(out["online"], self.inp["lookups"]))
        run.check("bandit.sink_exactly_once", lambda: checks.sink_problems(run.spark, out["sink"], out["published_ids"]))
        run.check("bandit.linucb_stats", lambda: checks.linucb_problems(run.spark, out["model_path"], out["tfrecords"]))
        run.check("bandit.actions_in_range", lambda: checks.actions_problems(out["preds"], inputs.NUM_ACTIONS))


class QueryMix:
    """Registered queries, each constructed (``fn``, which includes its eager
    driver jobs) and materialized to pandas, over the sf0.01 fixture tables
    with their rows in a seeded order."""

    name = "query_mix"
    # its first timed pass still runs while the JIT compiles; on a busy
    # host the median of two passes spread less between runs than either
    min_passes = 2

    def __init__(self, run) -> None:
        self.run = run
        self.out: dict = {}
        self.extra: dict[str, list[float]] = {}

    def setup(self) -> None:
        from mlops_pipelines_featurestore_gcp_spark.plans import QUERIES

        self.names = {q.split("_")[0]: q for q in QUERIES}
        self.sf_dir = os.path.join(self.run.data_dir, "tables")
        inputs.write_tables(self.run.seed, self.sf_dir)
        self.run.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet").count()

    def warm_up(self) -> None:
        self.run_pass(0)

    def run_pass(self, p: int) -> None:
        from mlops_pipelines_featurestore_gcp_spark.plans import QUERIES

        run = self.run
        for qid in QUERY_IDS:
            name = self.names[qid]
            df = run.op(f"plans.{qid}.construct", lambda: QUERIES[name].fn(run.spark, self.sf_dir))
            if df is None:
                continue
            pdf = run.op(f"plans.{qid}.materialize", lambda: df.toPandas())
            if p == 0 and pdf is not None:
                self.out[qid] = (name, df.schema, pdf)

    def finish_trace(self) -> None:
        pass

    def checks(self) -> None:
        oracle = checks.QueryOracle(self.sf_dir)
        try:
            for qid, (name, schema, pdf) in self.out.items():
                self.run.check(f"plans.{qid}", lambda: oracle.problems(name, schema, pdf))
        finally:
            oracle.close()


WORKLOADS = {w.name: w for w in (BanditLoop, QueryMix)}
