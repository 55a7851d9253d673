"""The workloads: ``glm_cold`` (a tall dense and a wide sparse design in
one op) and ``corpus_dedup``. Each owns its inputs, a warm-up, one timed
op and the op's output check.

An op is one closed-loop client request: it calls the public API on
frames read from the generated parquet files and materializes every
result on the driver. GLM fits always start cold: no ``beta_init``,
``beta_init_by_cell``, ``gram_cache`` or ``_prebuilt``, and every fit
builds its own backend. Public functions are looked up at call time
(``api().path.owl`` rather than a bound name), so the tracer's wrappers
apply.
"""

from __future__ import annotations

import os
import sys
import time
from types import SimpleNamespace

import numpy as np

import certify
import inputs

WARMUP_SEED_OFFSET = 1_000_003  # warm-up data never shares the timed seed


def api() -> SimpleNamespace:
    """The public modules. ``score`` and ``predict`` come from
    sys.modules: the package re-exports functions of the same names,
    which shadow the module attributes."""
    import golem_spark.cv as cv
    import golem_spark.path as path
    from golem_spark.pipeline import dedup, text

    return SimpleNamespace(path=path, cv=cv, score=sys.modules["golem_spark.score"],
                           predict=sys.modules["golem_spark.predict"],
                           dedup=dedup, text=text)


class Workload:
    name = ""
    # the timed loop runs at least this many ops, however long they take
    min_ops = 1
    # the warm-up op's inputs are this fraction of the timed ones, and
    # its options are overridden by these (shorter paths)
    warmup_scale = 0.25
    warmup_options: dict = {}

    def __init__(self, spark, workdir: str, n_files: int):
        self.spark = spark
        self.workdir = workdir
        self.n_files = n_files

    def _frame(self, label: str, data: dict, kind: str):
        path = os.path.join(self.workdir, label)
        inputs.write_parquet(inputs.to_pandas(data, kind), path, self.n_files)
        return self.spark.read.parquet(path)

    def prepare(self, seed: int) -> dict:
        """Generate the inputs for ``seed`` and write them as parquet."""
        raise NotImplementedError

    def op(self, ctx: dict, tracer) -> dict:
        """One timed op. Returns {"rows", "rows_s", "out", "parts"}:
        ``rows`` data rows went through the op's scoring/dedup stage in
        ``rows_s`` seconds; ``parts`` are named sub-timings."""
        raise NotImplementedError

    def check(self, ctx: dict, out) -> list[str]:
        raise NotImplementedError


# -- GLM path fits ---------------------------------------------------------

def _by_key(pred_df) -> np.ndarray:
    """Collected predictions in row-key order (scan order is not file
    order: Spark bin-packs files by size)."""
    rows = pred_df.select("key", "pred_0").collect()
    out = np.empty(len(rows))
    out[[r[0] for r in rows]] = [r[1] for r in rows]
    return out


def _fit_and_score(tracer, fit_kwargs: dict, holdout, score_kwargs: dict):
    mods = api()
    t0 = time.perf_counter()
    fit = mods.path.owl(**fit_kwargs)
    t1 = time.perf_counter()
    mse = mods.score.score(fit, df=holdout, measure="mse", **score_kwargs)
    k = fit.n_sigma - 1
    features = {kk: v for kk, v in score_kwargs.items() if kk != "label_col"}
    # the span covers materializing the lazy prediction frame too
    with tracer.span("predict", "predict"):
        pred = _by_key(mods.predict.predict(fit, df=holdout, type="response",
                                            path_idx=k, **features))
    t2 = time.perf_counter()
    return fit, mse, pred, k, t1 - t0, t2 - t1


class _PathFits(Workload):
    """Cold path fits, one per family, each followed by held-out
    predict + score over the whole path."""

    families: tuple = ()
    n_train = n_holdout = 0
    fit_options: dict = {}

    def _data(self, seed: int, n: int, family: str) -> dict:
        raise NotImplementedError

    def _design(self, data: dict):
        raise NotImplementedError

    def _kwargs(self, frame):
        raise NotImplementedError

    def prepare(self, seed: int, scale: float = 1.0) -> dict:
        ctx = {"overrides": {} if scale == 1.0 else self.warmup_options}
        n, nh = int(self.n_train * scale), int(self.n_holdout * scale)
        for fam in self.families:
            data = self._data(seed, n + nh, fam)
            train = {k: v[:n] for k, v in data.items()}
            hold = {k: v[n:] for k, v in data.items()}
            hold["key"] = np.arange(nh, dtype=np.int64)
            ctx[fam] = {
                "train": self._frame(f"{fam}_train", train, self.kind),
                "holdout": self._frame(f"{fam}_holdout", hold, self.kind),
                "train_data": train, "holdout_data": hold}
        return ctx

    def op(self, ctx: dict, tracer) -> dict:
        out, parts, rows, rows_s = {}, {}, 0, 0.0
        for fam in self.families:
            c = ctx[fam]
            fit_kw, score_kw = self._kwargs(c["train"])
            fit_kw.update(family=fam, **{**self.fit_options, **ctx["overrides"]})
            fit, mse, pred, k, fit_s, eval_s = _fit_and_score(
                tracer, fit_kw, c["holdout"], score_kw)
            out[fam] = (fit, mse, pred, k)
            parts[f"{fam}.fit_s"] = fit_s
            parts[f"{fam}.passes"] = int(fit.passes.sum())
            parts[f"{fam}.eval_s"] = eval_s
            rows += len(pred) * fit.n_sigma
            rows_s += eval_s
        return {"rows": rows, "rows_s": rows_s, "out": out, "parts": parts}

    def check(self, ctx: dict, out) -> list[str]:
        errs = []
        for fam, (fit, mse, pred, k) in out.items():
            c = ctx[fam]
            if "design" not in c:
                c["design"] = self._design(c["train_data"])
                c["holdout_design"] = self._design(c["holdout_data"])
            errs += certify.check_fit(fit, c["design"], c["train_data"]["y"], fam)
            errs += certify.check_scores(fit, c["holdout_design"],
                                         c["holdout_data"]["y"], mse, pred, k)
        return errs


class TallDense(_PathFits):
    """n >> p dense parquet: cold binomial and poisson paths, then a
    gaussian (q, sigma) selection by train_owl_spark, whose grouped-
    moments grid is one data pass plus driver ADMM for every cell."""

    name = "tall_dense"
    kind = "dense"
    families = ("binomial", "poisson")
    n_train, n_holdout, p = 20000, 4000, 16
    fit_options = {"n_sigma": 3, "lambda_min_ratio": 0.1}
    warmup_options = {"n_sigma": 2}
    cv_grid = {"q": (0.1,), "number": 3, "n_sigma": 4}

    def _data(self, seed, n, family):
        return inputs.dense_glm(seed, n, self.p, family)

    def _design(self, data):
        return certify.Design(x=data["x"], center=True)

    def _kwargs(self, frame):
        cols = inputs.dense_columns(self.p)
        return ({"df": frame, "feature_cols": cols, "label_col": "y"},
                {"feature_cols": cols, "label_col": "y"})

    def prepare(self, seed: int, scale: float = 1.0) -> dict:
        ctx = super().prepare(seed, scale)
        data = inputs.dense_glm(seed, int(self.n_train * scale), self.p, "gaussian")
        ctx["gaussian"] = {"train": self._frame("gaussian_train", data, "dense"),
                           "train_data": data}
        return ctx

    def op(self, ctx: dict, tracer) -> dict:
        rec = super().op(ctx, tracer)
        t0 = time.perf_counter()
        trained = api().cv.train_owl_spark(
            ctx["gaussian"]["train"], inputs.dense_columns(self.p), "y", "key",
            family="gaussian", **{**self.cv_grid, **ctx["overrides"]})
        rec["parts"]["gaussian.cv_s"] = time.perf_counter() - t0
        rec["out"]["cv"] = trained
        return rec

    def check(self, ctx: dict, out) -> list[str]:
        from golem_spark.cv import train_owl

        out = dict(out)
        trained = out.pop("cv")
        errs = super().check(ctx, out)
        c = ctx["gaussian"]
        if "local" not in c:
            d = c["train_data"]
            c["local"] = train_owl(d["x"], d["y"], family="gaussian", max_workers=1,
                                   **{**self.cv_grid, **ctx["overrides"]})
        primary = c["local"].measure[0]
        return errs + certify.check_cv_choice(trained.optima[primary],
                                              c["local"].optima[primary])



class WideSparse(_PathFits):
    """One-hot sparse p ~ 10^3, screening on, active sets a few % of p."""

    name = "wide_sparse"
    kind = "sparse"
    families = ("gaussian", "binomial")
    n_train, n_holdout, p, nnz = 20000, 4000, 1000, 8
    fit_options = {"n_sigma": 3, "lambda_min_ratio": 0.5, "screening": True}
    warmup_options = {"n_sigma": 2}

    def _data(self, seed, n, family):
        return inputs.sparse_onehot(seed, n, self.p, self.nnz, family)

    def _design(self, data):
        return certify.Design(idx=data["idx"], p=self.p)

    def _kwargs(self, frame):
        sf = ("idx", "val")
        return ({"df": frame, "sparse_features": sf, "sparse_p": self.p,
                 "label_col": "y"},
                {"sparse_features": sf, "label_col": "y"})


class GlmCold(Workload):
    """The GLM layers in one op: the tall dense paths and CV selection,
    then the wide sparse paths. Path fits are told apart by design in
    the per-layer shares (layers.py)."""

    name = "glm_cold"

    def __init__(self, spark, workdir: str, n_files: int):
        super().__init__(spark, workdir, n_files)
        self.designs = (TallDense(spark, os.path.join(workdir, "tall"), n_files),
                        WideSparse(spark, os.path.join(workdir, "wide"), n_files))

    def prepare(self, seed: int, scale: float = 1.0) -> dict:
        return {d.name: d.prepare(seed, scale) for d in self.designs}

    def op(self, ctx: dict, tracer) -> dict:
        recs = {d.name: d.op(ctx[d.name], tracer) for d in self.designs}
        return {"rows": sum(r["rows"] for r in recs.values()),
                "rows_s": sum(r["rows_s"] for r in recs.values()),
                "out": {k: r["out"] for k, r in recs.items()},
                "parts": {f"{k}.{p}": v for k, r in recs.items()
                          for p, v in r["parts"].items()}}

    def check(self, ctx: dict, out) -> list[str]:
        return [e for d in self.designs for e in d.check(ctx[d.name], out[d.name])]


# -- dedup + tf-idf ---------------------------------------------------------

class CorpusDedup(Workload):
    """Seed-generated corpus with planted near-duplicate clusters through
    MinHash-LSH dedup and the tf-idf operators."""

    name = "corpus_dedup"
    # a full-size warm-up: after a quarter-size one, the first timed op
    # still ran 10-25% slower than the second (4 vCPUs), as each plan
    # shape's generated code warms up
    warmup_scale = 1.0
    # the median of three ops drops one slow op (a stall, or the first
    # op's remaining warm-up); glm_cold's single op is ~2x longer
    min_ops = 3
    n_base, n_clusters = 2000, 400
    cosine_threshold = 0.8

    def prepare(self, seed: int, scale: float = 1.0) -> dict:
        corp = inputs.corpus(seed, int(self.n_base * scale),
                             int(self.n_clusters * scale))
        return {"corpus": corp, "frame": self._frame("corpus", corp, "corpus"),
                "notes": {}}

    def op(self, ctx: dict, tracer) -> dict:
        mods = api()
        dedup, text = mods.dedup, mods.text
        df = ctx["frame"]
        t0 = time.perf_counter()
        with tracer.span("pipeline", "minhash_lsh_pairs", "pipeline.minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(df).persist()
            pair_rows = [(r[0], r[1]) for r in pairs.collect()]
        # the keep list reads the persisted candidates, as a caller
        # reusing one candidate set would
        with tracer.span("pipeline", "dedup_keep_list", "pipeline.dedup_keep_list"):
            keep = [(r[0], r[1], r[3]) for r in dedup.dedup_keep_list(df, pairs).collect()]
        pairs.unpersist()
        t1 = time.perf_counter()
        with tracer.span("pipeline", "tfidf_vectors", "pipeline.tfidf_vectors"):
            vecs = [(r[0], list(r[1]), list(r[2]))
                    for r in text.tfidf_vectors(df).collect()]
        with tracer.span("pipeline", "sparse_cosine_pairs", "pipeline.sparse_cosine_pairs"):
            cos = [(r[0], r[1], r[2]) for r in
                   text.sparse_cosine_pairs(df, threshold=self.cosine_threshold).collect()]
        t2 = time.perf_counter()
        n_docs = len(ctx["corpus"]["text"])
        return {"rows": n_docs, "rows_s": t1 - t0,
                "out": (pair_rows, keep, vecs, cos),
                "parts": {"dedup_s": t1 - t0, "tfidf_s": t2 - t1}}

    def check(self, ctx: dict, out) -> list[str]:
        pair_rows, keep, vecs, cos = out
        corp = ctx["corpus"]
        return (certify.check_dedup(corp, pair_rows, keep, ctx["notes"])
                + certify.check_tfidf(corp, vecs)
                + certify.check_cosine(corp, cos, self.cosine_threshold))


WORKLOADS = {w.name: w for w in (GlmCold, CorpusDedup)}
