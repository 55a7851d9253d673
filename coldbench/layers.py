"""Which package functions belong to which layer, and the per-layer
metrics computed from the recorded spans.

Seconds, calls, jobs and bytes are per timed op (the total over the
traced ops divided by their count), so they read against ``op_s``.
Ratios and shares are over all traced ops; ``spark.persisted_after_op``
is the largest count seen after any op.
"""

from __future__ import annotations

import sys

from spans import descendants, self_time

# backends pass kinds: method name -> metric group
BACKEND_KINDS = {
    "eval": "eval", "eval_multi": "eval", "primal": "eval",
    "eval_hess": "eval_hess", "eval_hess_multi": "eval_hess",
    "weighted_gram": "eval_hess", "multinomial_hessian": "eval_hess",
    # gram, sufficient statistics, X'y and the other one-off stats passes
    "gram": "gram", "gaussian_sufficient_stats": "gram", "xty": "gram",
    "xty_yty": "gram", "lambda_max_gradient": "gram", "null_intercepts": "gram",
}
BUILDERS = ("build_spark_backend", "build_sparse_backend")
SOLVERS = ("fista", "prox_newton", "admm_gaussian")
PIPELINE = {"dedup": ("minhash_lsh_pairs", "dup_components", "dedup_keep_list"),
            "text": ("tfidf_vectors", "sparse_cosine_pairs")}
DRIVER_LAYERS = ("solvers", "prox", "screening")


def _nbytes(obj) -> int:
    """Bytes of the model-sized values a pass returned to the driver."""
    if hasattr(obj, "nbytes"):
        return int(obj.nbytes)
    if isinstance(obj, float):
        return 8
    if isinstance(obj, (tuple, list)):
        return sum(_nbytes(o) for o in obj)
    return 0


def install(tracer) -> None:
    import golem_spark
    import golem_spark.backends as backends
    import golem_spark.cv as cv
    import golem_spark.path as path
    import golem_spark.solvers as solvers
    from golem_spark.pipeline import dedup, text

    score_mod = sys.modules["golem_spark.score"]
    predict_mod = sys.modules["golem_spark.predict"]

    def collected(sp, out, args, kwargs):
        tracer.note("backends.collected_bytes", _nbytes(out))

    for cls in (backends.SparkBackend, backends.ArrowSparkBackend,
                backends.SparseArrowBackend):
        for meth, kind in BACKEND_KINDS.items():
            tracer.patch(cls, meth, "backends", kind, on_result=collected)
    for site in (path, backends):
        for b in BUILDERS:
            tracer.patch(site, b, "backends", "build")

    def iterations(sp, out, args, kwargs):
        res = out[0] if isinstance(out, tuple) else out
        tracer.note("solvers.iterations", int(res.passes))

    for s in SOLVERS:
        tracer.patch(path, s, "solvers", on_result=iterations)
    tracer.patch(solvers, "prox_sorted_l1", "prox")

    def strong(sp, out, args, kwargs):
        grad, intercept = args[0], args[3]
        rows = grad.shape[0] - int(intercept)
        tracer.note("screening.strong_frac", (len(out) - int(intercept)) / rows)

    tracer.patch(path, "strong_set", "screening", on_result=strong)
    tracer.patch(path, "kkt_check", "screening")

    def fit_done(sp, out, args, kwargs):
        sp.name = "sparse" if kwargs.get("sparse_features") else "dense"
        checks = [v for vk in out.violations for v in vk]
        tracer.note("screening.kkt_checks", (len(checks), sum(v > 0 for v in checks)))

    for site in (path, cv, golem_spark):
        tracer.patch(site, "owl", "path", on_result=fit_done)

    def cells(sp, out, args, kwargs):
        tracer.note("cv.cells", len({(d["q"], d["fold"], d["repeat"])
                                     for d in out.data}))

    for site in (cv, golem_spark):
        tracer.patch(site, "train_owl_spark", "cv", on_result=cells)
    tracer.patch_pool(cv)

    for site in (score_mod, cv, golem_spark):
        tracer.patch(site, "score", "score")
    tracer.patch(score_mod, "_score_spark", "score")
    for site in (predict_mod, score_mod, golem_spark):
        tracer.patch(site, "predict", "predict")

    for mod, fns in ((dedup, PIPELINE["dedup"]), (text, PIPELINE["text"])):
        for fn in fns:
            tracer.patch(mod, fn, "pipeline", fn, key=f"pipeline.{fn}")


def _sum(vals) -> float:
    return float(sum(vals))


def metrics(tracer, ops: list[int], jobs: dict, persisted: list[int]) -> dict:
    """Per-layer metrics per traced op. ``ops``: the traced op indices;
    ``jobs``: Spark jobs per job layer over those ops; ``persisted``:
    persisted RDDs after each op."""
    n = max(len(ops), 1)
    spans = [s for s in tracer.spans if s.op in ops]
    notes = {k: [v for op, v in vals if op in ops]
             for k, vals in tracer.values.items()}

    def busy(pred) -> float:
        return _sum(s.duration for s in spans if pred(s)) / n

    def selft(pred) -> float:
        return _sum(self_time(s) for s in spans if pred(s)) / n

    def calls(pred) -> float:
        return sum(1 for s in spans if pred(s)) / n

    out = {
        "backends.busy_s": busy(lambda s: s.layer == "backends"),
        "backends.self_s": selft(lambda s: s.layer == "backends"),
    }
    for kind in ("eval_hess", "eval", "gram"):
        pred = (lambda k: lambda s: s.layer == "backends" and s.name == k)(kind)
        out[f"backends.{kind}.calls"] = calls(pred)
        out[f"backends.{kind}.busy_s"] = busy(pred)
    out["backends.build.busy_s"] = busy(lambda s: s.name == "build")
    out["backends.spark_jobs"] = jobs.get("backends", 0) / n
    out["backends.collected_bytes"] = _sum(notes.get("backends.collected_bytes", [])) / n
    out["solvers.self_s"] = selft(lambda s: s.layer == "solvers")
    out["solvers.iterations"] = _sum(notes.get("solvers.iterations", [])) / n
    out["prox.calls"] = calls(lambda s: s.layer == "prox")
    out["prox.busy_s"] = busy(lambda s: s.layer == "prox")
    out["screening.busy_s"] = busy(lambda s: s.layer == "screening")
    fr = notes.get("screening.strong_frac", [])
    out["screening.strong_frac"] = _sum(fr) / len(fr) if fr else 0.0
    kc = notes.get("screening.kkt_checks", [])
    n_checks = sum(c for c, _ in kc)
    out["screening.kkt_violation_ratio"] = (sum(v for _, v in kc) / n_checks
                                            if n_checks else 0.0)
    out["path.busy_s"] = busy(lambda s: s.layer == "path")
    out["path.self_s"] = selft(lambda s: s.layer == "path")
    out["cv.self_s"] = selft(lambda s: s.layer == "cv")
    out["cv.cells"] = _sum(notes.get("cv.cells", [])) / n
    out["score.busy_s"] = busy(lambda s: s.layer == "score")
    out["predict.busy_s"] = busy(lambda s: s.layer == "predict")
    for fn in PIPELINE["dedup"] + PIPELINE["text"]:
        out[f"pipeline.{fn}.busy_s"] = busy(lambda s, fn=fn: s.key == f"pipeline.{fn}")
    out["pipeline.spark_jobs"] = jobs.get("pipeline", 0) / n
    out["spark.persisted_after_op"] = float(max(persisted)) if persisted else 0.0
    # shares of the stand-alone path fits' seconds (owl() calls outside
    # any CV), per design: distributed passes (backends self time) vs
    # driver numpy (solver self time, prox, screening)
    for design in ("dense", "sparse"):
        fits = [s for s in spans if s.layer == "path" and s.parent is None
                and s.name == design]
        fit_s = _sum(s.duration for s in fits)
        inner = [d for s in fits for d in descendants(s)]
        back = _sum(self_time(d) for d in inner if d.layer == "backends")
        driver = _sum(self_time(d) if d.layer == "solvers" else d.duration
                      for d in inner if d.layer in DRIVER_LAYERS)
        out[f"backends.share.{design}"] = back / fit_s if fit_s else 0.0
        out[f"driver.share.{design}"] = driver / fit_s if fit_s else 0.0
    return out


# metric name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "backends.busy_s": "s", "backends.self_s": "s",
    "backends.eval_hess.calls": "count", "backends.eval_hess.busy_s": "s",
    "backends.eval.calls": "count", "backends.eval.busy_s": "s",
    "backends.gram.calls": "count", "backends.gram.busy_s": "s",
    "backends.build.busy_s": "s", "backends.spark_jobs": "count",
    "backends.collected_bytes": "B",
    "solvers.self_s": "s", "solvers.iterations": "count",
    "prox.calls": "count", "prox.busy_s": "s",
    "screening.busy_s": "s", "screening.strong_frac": "ratio",
    "screening.kkt_violation_ratio": "ratio",
    "path.busy_s": "s", "path.self_s": "s", "cv.self_s": "s", "cv.cells": "count",
    "score.busy_s": "s", "predict.busy_s": "s",
    **{f"pipeline.{fn}.busy_s": "s" for fn in PIPELINE["dedup"] + PIPELINE["text"]},
    "pipeline.spark_jobs": "count", "spark.persisted_after_op": "count",
    "backends.share.dense": "ratio", "driver.share.dense": "ratio",
    "backends.share.sparse": "ratio", "driver.share.sparse": "ratio",
    "session.start_s": "s", "trace.overhead_s": "s",
}
