"""The benchmark workloads. Each is a closed loop with one client:
``generate`` writes the seeded inputs, ``setup`` prepares the program
state, ``op`` runs one operation and records its output, ``side_op``
runs an occasional other operation when ``side_due`` says so, and
``check`` compares every recorded output with an independent
re-computation and returns the number of wrong ones.

Every layer call goes through the program's public module attributes,
so the traced run can wrap them where the calling module looks them up
(``Tracer.wrap``) without touching the program.
"""

from __future__ import annotations

import math
import os
import threading

import numpy as np

import inputs
import oracles


class _Background:
    """Run an oracle on a thread while the untimed warm-up ops run, so
    its wall time costs nothing extra; ``join`` it before the timed ops.
    DuckDB releases the GIL."""

    def __init__(self, fn, *args):
        self._out = None
        self._err = None
        self._thread = threading.Thread(target=self._run, args=(fn, args), daemon=True)
        self._thread.start()

    def _run(self, fn, args):
        try:
            self._out = fn(*args)
        except Exception as e:  # re-raised on the main thread by result()
            self._err = e

    def join(self) -> None:
        self._thread.join()

    def result(self):
        self.join()
        if self._err is not None:
            raise self._err
        return self._out


class _Workload:
    """Defaults: no side operation besides the measured op."""

    #: untimed ops before the first timed one
    warmup_ops = 1
    #: timed ops a run makes even when they outlast the window
    min_ops = 1
    #: workloads whose layers the traced run of this one also traces
    traced_with: tuple = ()

    def __init__(self, spark, tracer, data_dir: str, seed: int):
        self.spark, self.tr, self.dir, self.seed = spark, tracer, data_dir, seed

    def side_due(self, elapsed: float, seconds: float) -> bool:
        return False

    def start_oracle(self):
        return None


class SpreadPrep(_Workload):
    """E1 long-layout spine + E2-style profile over a generated tick
    stream. One op = ``e1_flagship`` top-k + a profile of the spreads."""

    name = "spread_prep"
    unit = "rows"
    # the JIT keeps compiling for many ops: the second op still costs
    # twice the CPU of later ones, the third ~30% more, and both run slower
    warmup_ops = 3
    # ops keep getting faster for 10+ ops, so a window that held two or
    # three ops, or a varying number of them, moved the median with it
    min_ops = 6

    def __init__(self, *args):
        super().__init__(*args)
        self.outputs: list[list[tuple]] = []

    def generate(self) -> None:
        self.work = inputs.write_events(self.dir, self.seed)

    def setup(self) -> None:
        from commodity_price_forecasting_spark.plans import e1_pipeline as e1

        self.e1 = e1
        tr = self.tr
        tr.wrap(e1, "load_table", "sources.scan")
        tr.wrap(e1, "daily_bars", "e1_pipeline.daily_bars")
        tr.wrap(e1, "ffill_bfill_long", "cleaning.impute")
        tr.wrap(e1, "spreads", "e1_pipeline.spreads")
        tr.wrap(e1, "future_spreads", "e1_pipeline.future_spreads")

    def start_oracle(self):
        return _Background(oracles.e1_topk, self.dir, self.e1.E1_ORACLE)

    def op(self) -> None:
        from commodity_price_forecasting_spark.operators import profiling

        e1, tr = self.e1, self.tr
        ranked = e1.e1_flagship(self.spark, self.dir, top_k=8)
        with tr.span("e1_pipeline.rank"):
            top = [tuple(r) for r in ranked.collect()]
        with tr.span("profiling.summary"):
            with tr.muted():  # same plans as the flagship's cached frames
                daily = e1.daily_bars(self.spark, self.dir)
                sp = e1.spreads(e1.imputed(e1.with_gaps(daily)), e1.pair_mapping(daily))
            profiling.describe_long(sp, ["spread"]).collect()
            profiling.quantile_summary(sp, ["spread"]).collect()
            profiling.null_profile(sp, ["spread"]).collect()
        self.spark.catalog.clearCache()  # e1_flagship leaves its frames cached
        self.outputs.append(top)

    def check(self, oracle) -> int:
        want = oracle.result()
        return sum(not oracles.same_topk(got, want) for got in self.outputs)


class SignalServing(_Workload):
    """The interactive trade-signal path at reference shape. One op =
    one ``api.trade_suggestion`` request with seeded overrides; half-way
    through the request window one refit appends a generated day and
    calls ``api.run_ensemble`` again (the side op)."""

    name = "signal_serving"
    unit = "requests"
    warmup_ops = 2  # ~4 s for both: the first request is cold
    min_ops = 5

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = np.random.default_rng([self.seed, 11])
        self.requests: list[tuple] = []  # (model index, inputs, thr, min_conf, row)
        self.models: list[dict] = []
        self.work = 1  # one request per op

    def generate(self) -> None:
        inputs.write_reference_tables(self.dir, self.seed)

    def setup(self) -> None:
        from commodity_price_forecasting_spark import api
        from commodity_price_forecasting_spark.ml import serving
        from commodity_price_forecasting_spark.plans.reference_pipeline import run_e1
        from commodity_price_forecasting_spark.sources.readers import load_table

        self.api, tr = api, self.tr
        tr.wrap(api, "predict_signal", "serving.predict_signal", force=False)
        tr.wrap(api, "_run_ensemble", "ensemble.run_ensemble", force=False)
        csv_dir = os.path.join(self.dir, "df_transformed")
        with tr.span("reference_pipeline.run_e1"):
            res = run_e1(*(load_table(self.spark, self.dir, t) for t in ("train", "train_labels", "target_pairs")))
            res.merged.coalesce(1).write.option("header", True).csv(csv_dir)
        with tr.span("sources.load_data"):
            self.df, self.features, targets = api.load_data(self.spark, csv_dir)
        self.target = targets[0]
        self.targets = targets
        self._fit()
        self.latest = serving.default_inputs(self.df, self.features)
        self.last_row = self.df.orderBy(self.df["date_id"].desc()).first().asDict()

    def _fit(self) -> None:
        self.ens = self.api.run_ensemble(self.df, self.features, self.target)

    def snapshot(self) -> None:
        """Model parameters for the numpy re-score (outside timed ops)."""
        ens = self.ens
        lin = {}
        for name in ("linear", "ridge"):
            m = ens.fitted[name].stages[-1]
            lin[name] = (np.asarray(m.coefficients.toArray()), float(m.intercept))
        rf = ens.fitted["random_forest"].stages[-1]
        trees = oracles.parse_forest(rf.toDebugString)
        self.models.append(
            {"lin": lin, "trees": trees, "rf0": rf.trees[0], "weights": dict(ens.weights), "r2": ens.avg_r2}
        )

    def start_oracle(self):
        self.snapshot()
        # thresholds are drawn around the size of a typical prediction,
        # so WAIT, BUY_A_SELL_B and SELL_A_BUY_B all occur
        self.pred_scale = abs(self._numpy_predict(self.models[0], self.latest)[1])
        return None

    def side_due(self, elapsed: float, seconds: float) -> bool:
        """One refit per run, half-way through the request window (or
        right after it, when the request that crossed the half ended it)."""
        return len(self.models) == 1 and elapsed >= seconds / 2

    def op(self) -> None:
        rng = self.rng
        x = {c: v * (1.0 + rng.normal(0.0, 0.25)) for c, v in self.latest.items()}
        thr = self.pred_scale * math.exp(rng.uniform(-1.0, 1.0))
        min_conf = rng.uniform(0.0, 0.4)
        sig = self.api.trade_suggestion(
            self.spark, self.ens, self.features, self.target, inputs=x, threshold=thr, min_confidence=min_conf
        )
        with self.tr.span("serving.collect"):
            row = sig.collect()[0].asDict()
        self.requests.append((len(self.models) - 1, x, thr, min_conf, row))

    def side_op(self) -> None:
        """The refit: append one generated day, then fit again."""
        row = inputs.new_day_row(self.rng, self.last_row, self.features, self.targets)
        self.df = self.df.unionByName(self.spark.createDataFrame([row], self.df.schema))
        self._fit()
        self.last_row = row
        self.latest = {c: row[c] for c in self.features}

    def side_done(self) -> None:
        self.snapshot()

    def _numpy_predict(self, m: dict, x: dict) -> tuple[dict, float]:
        vec = np.array([x[c] for c in self.features])
        preds = {n: float(coef @ vec + b) for n, (coef, b) in m["lin"].items()}
        preds["random_forest"] = oracles.forest_predict(m["trees"], vec)
        return preds, sum(m["weights"][n] * p for n, p in preds.items())

    def check(self, _oracle) -> int:
        from commodity_price_forecasting_spark.ml.treeshap import extract_trees

        bad_model = set()
        for i, m in enumerate(self.models):
            # anchor the debug-string parse on the package's own tree walk
            if not oracles.same_tree(extract_trees(m["rf0"])[0], m["trees"][0]):
                bad_model.add(i)
        failed = 0
        for mi, x, thr, min_conf, row in self.requests:
            m = self.models[mi]
            preds, pred = self._numpy_predict(m, x)
            signal, conf, strength = oracles.signal_rule(pred, m["r2"], thr, min_conf)
            ok = (
                mi not in bad_model
                and all(oracles.close(row[f"pred_{n}"], p) for n, p in preds.items())
                and oracles.close(row["prediction"], pred)
                and (row["signal"], row["confidence"]) == (signal, conf)
                and abs(row["strength"] - strength) <= 5.1e-7
            )
            failed += not ok
        return failed


class Curation(_Workload):
    """``curation_pipeline_full`` over a generated corpus with planted
    exact/near duplicates, PII, low-quality docs and embedding
    near-duplicate clusters. One op = one full pipeline run."""

    name = "curation"
    unit = "docs"
    #: the per-layer metrics this workload's ops move
    layers = (
        "textops.redact_quality_s",
        "dedup.exact_s",
        "dedup.minhash_s",
        "dedup.lsh_candidates",
        "dedup.edges",
        "dedup.candidate_yield",
        "dedup.components_s",
        "similarity.semantic_dedup_s",
    )

    work = inputs.N_DOCS

    def __init__(self, *args):
        super().__init__(*args)
        self.outputs: list[dict[int, int]] = []

    def generate(self) -> None:
        inputs.write_corpus(self.dir, self.seed)

    def setup(self) -> None:
        from commodity_price_forecasting_spark.operators import similarity, textops
        from commodity_price_forecasting_spark.plans import queries_datapipe as dp

        self.dp, tr = dp, self.tr
        tr.wrap(textops, "pii_redact", "textops.redact")
        tr.wrap(textops, "quality_score_rowwise", "textops.quality")
        tr.wrap(dp, "char_shingles", "dedup.shingles", force_arg="dedup.exact")
        tr.wrap(dp, "minhash_wide", "dedup.minhash")
        tr.wrap(dp, "lsh_star_pairs", "dedup.lsh")
        tr.wrap(dp, "connected_components", "dedup.components", force_arg="dedup.edges")
        tr.wrap(similarity, "semantic_dedup", "similarity.semantic_dedup")

    def start_oracle(self):
        return _Background(oracles.curation_prefix, self.dir, self.dp._PIPELINE_FULL_PREFIX_ORACLE)

    def op(self) -> None:
        rows = self.dp.curation_pipeline_full(self.spark, self.dir).collect()
        self.outputs.append({r["stage_no"]: r["n_docs"] for r in rows})

    def check(self, oracle) -> int:
        from pyspark.sql import functions as F

        from commodity_price_forecasting_spark.operators.similarity import (
            SEMDEDUP_CROSSOVER_N,
            semantic_dedup,
        )
        from commodity_price_forecasting_spark.sources.readers import load_table

        counts, s4_ids = oracle.result()
        ids = self.spark.createDataFrame([(i,) for i in s4_ids], "doc_id long")
        embs = (
            load_table(self.spark, self.dir, "embeddings")
            .join(ids, F.col("vec_id") == F.col("doc_id"))
            .select("vec_id", "embedding")
        )
        with self.tr.muted():
            n_drop = len(semantic_dedup(embs).select("vec_id").distinct().collect())
        want = {**counts, 5: len(s4_ids) - n_drop}
        self.stage5_lane = "blas" if len(s4_ids) <= SEMDEDUP_CROSSOVER_N else "hier"
        return sum(any(got.get(k) != v for k, v in want.items()) for got in self.outputs)


WORKLOADS = {w.name: w for w in (SpreadPrep, SignalServing, Curation)}
# curation is not a benchmark workload of its own (one cold op costs
# ~25 s per run); the traced run of spread_prep traces its layers
SpreadPrep.traced_with = (Curation,)
