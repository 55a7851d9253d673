"""Output checks that recompute each answer in numpy from the generated
inputs, independently of the package's own code paths.

- GLM fits: a KKT certificate per path point. The sorted-L1 problem is
  re-derived from the raw arrays (own standardization, own gradient, own
  sorted-L1 prox); at an optimum beta = prox(beta - t*grad), so the
  fixed-point residual, relative to the largest penalty weight, must be
  small.
- CV: the selected (q, sigma) must match the local ``train_owl`` result.
- dedup / tf-idf: exact Jaccard, cosine and tf-idf recomputed from the
  token lists, plus recall on the planted near-duplicate clusters.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

KKT_TOL = 2e-2          # relative fixed-point residual per path point
PRED_TOL = 1e-8         # predicted response vs numpy, absolute
SCORE_TOL = 1e-8        # held-out mse vs numpy, relative
JACCARD_MIN = 0.5       # LSH candidates below this are false positives
PAIR_RECALL = 0.95   # planted near-duplicate pairs LSH must find
COSINE_TOL = 1e-5


def sorted_l1_prox(v: np.ndarray, lam: np.ndarray) -> np.ndarray:
    """argmin_x 0.5*||x - v||^2 + sum_i lam_i |x|_(i) for nonincreasing
    lam >= 0: pool-adjacent-violators on |v| sorted descending."""
    a = np.abs(v)
    order = np.argsort(-a, kind="stable")
    w = a[order] - lam
    sums, lens = [], []
    for val in w:
        s, n = float(val), 1
        while sums and sums[-1] / lens[-1] <= s / n:
            s += sums.pop()
            n += lens.pop()
        sums.append(s)
        lens.append(n)
    x = np.concatenate([np.full(n, max(s / n, 0.0)) for s, n in zip(sums, lens)])
    out = np.empty_like(a)
    out[order] = x
    return np.sign(v) * out


def _pseudo_gradient(family: str, y: np.ndarray, lp: np.ndarray) -> np.ndarray:
    if family == "gaussian":
        return lp - y
    if family == "binomial":
        ypm = 2.0 * y - 1.0
        return -ypm / (1.0 + np.exp(np.clip(ypm * lp, -700, 700)))
    if family == "poisson":
        return np.exp(np.clip(lp, -700, 700)) - y
    raise ValueError(family)


def _curvature(family: str) -> float:
    return 0.25 if family == "binomial" else 1.0


class Design:
    """A generated design in the form the certificate needs: the raw
    linear predictor X @ b and the standardized gradient X_s^T r."""

    def __init__(self, x=None, idx=None, p=None, center=True):
        if x is not None:
            self.kind = "dense"
            self.x = x
            self.p = x.shape[1]
            self.c = x.mean(axis=0) if center else np.zeros(self.p)
            xc = x - self.c
            self.s = np.sqrt((xc * xc).sum(axis=0))
            self.n = x.shape[0]
            xs = xc / self.s
            self.lip = _power_max_eig(xs.T @ xs)
        else:
            self.kind = "onehot"
            self.idx = idx
            self.p = p
            self.n = idx.shape[0]
            counts = np.bincount(idx.ravel(), minlength=p).astype(np.float64)
            self.s = np.sqrt(np.maximum(counts, 1.0))
            self.c = np.zeros(p)
            # scaled one-hot columns: ||X_s||^2 <= max row nnz (Gershgorin)
            self.lip = float(idx.shape[1])

    def linear(self, b0: float, b: np.ndarray) -> np.ndarray:
        if self.kind == "dense":
            return b0 + self.x @ b
        return b0 + b[self.idx].sum(axis=1)

    def grad_std(self, r: np.ndarray) -> np.ndarray:
        if self.kind == "dense":
            return ((self.x - self.c).T @ r) / self.s
        g = np.bincount(self.idx.ravel(), weights=np.repeat(r, self.idx.shape[1]),
                        minlength=self.p)
        return g / self.s


def _power_max_eig(g: np.ndarray, iters: int = 50) -> float:
    v = np.ones(g.shape[0]) / math.sqrt(g.shape[0])
    for _ in range(iters):
        w = g @ v
        v = w / np.linalg.norm(w)
    return float(v @ (g @ v))


def kkt_residuals(fit, design: Design, y: np.ndarray, family: str) -> np.ndarray:
    """Relative sorted-L1 fixed-point residual at every path point."""
    n = design.n
    lam_vec = np.asarray(fit.lambda_) * n
    t = 1.0 / (_curvature(family) * design.lip)
    out = np.zeros(fit.n_sigma)
    for k in range(fit.n_sigma):
        coef = fit.coefficients[:, 0, k]
        b0, b = coef[0], coef[1:]
        r = _pseudo_gradient(family, y, design.linear(b0, b))
        g = design.grad_std(r)
        beta_s = b * design.s
        lam = fit.sigma[k] * lam_vec
        z = sorted_l1_prox(beta_s - t * g, t * lam)
        res = np.max(np.abs(beta_s - z)) / t
        res = max(res, abs(float(np.sum(r))) / math.sqrt(n))
        out[k] = res / lam[0]
    return out


def check_fit(fit, design: Design, y: np.ndarray, family: str) -> list[str]:
    errs = []
    if fit.family != family:
        errs.append(f"family {fit.family} != {family}")
    if not np.all(np.isfinite(fit.coefficients)):
        errs.append("non-finite coefficients")
        return errs
    res = kkt_residuals(fit, design, y, family)
    bad = np.flatnonzero(res > KKT_TOL)
    if bad.size:
        errs.append(f"{family} KKT residual {res.max():.3g} > {KKT_TOL} "
                    f"at path points {bad.tolist()}")
    return errs


def response(fit, design: Design, k: int) -> np.ndarray:
    coef = fit.coefficients[:, 0, k]
    lp = design.linear(coef[0], coef[1:])
    if fit.family == "binomial":
        return 1.0 / (1.0 + np.exp(-lp))
    if fit.family == "poisson":
        return np.exp(lp)
    return lp


def check_scores(fit, design: Design, y: np.ndarray, mse: np.ndarray,
                 pred: np.ndarray, k: int) -> list[str]:
    """Held-out mse at every path point and the predicted response at
    path point ``k``, against numpy."""
    errs = []
    want = np.array([np.mean((response(fit, design, j) - y) ** 2)
                     for j in range(fit.n_sigma)])
    if mse.shape != want.shape or not np.allclose(mse, want, rtol=SCORE_TOL, atol=0):
        errs.append(f"held-out mse differs from numpy: {mse} vs {want}")
    err = np.max(np.abs(pred - response(fit, design, k)))
    if not err <= PRED_TOL * max(1.0, float(np.max(np.abs(pred)))):
        errs.append(f"predicted response differs from numpy by {err:.3g}")
    return errs


def check_cv_choice(got: dict, want: dict, rel_tie: float = 1e-4) -> list[str]:
    """Spark CV optimum vs the local ``train_owl`` optimum for the primary
    measure: same q and same path point, unless the local means of the
    two choices tie within ``rel_tie``."""
    if got["q"] == want["q"] and got["path_idx"] == want["path_idx"]:
        if math.isclose(got["sigma"], want["sigma"], rel_tol=1e-6):
            return []
        return [f"CV sigma {got['sigma']} != local {want['sigma']}"]
    if math.isclose(got["mean"], want["mean"], rel_tol=rel_tie):
        return []
    return [f"CV chose q={got['q']} idx={got['path_idx']} (mean {got['mean']:.6g}); "
            f"local train_owl chose q={want['q']} idx={want['path_idx']} "
            f"(mean {want['mean']:.6g})"]


# -- dedup / text ----------------------------------------------------------

def jaccard(a, b) -> float:
    sa, sb = set(a), set(b)
    return len(sa & sb) / len(sa | sb)


def _components(n: int, pairs: list) -> dict:
    """doc -> smallest doc id of its connected component, for documents
    in at least one pair (union-find)."""
    parent = list(range(n))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    docs = {d for ab in pairs for d in ab}
    return {d: find(d) for d in docs}


def planted_pairs(cluster) -> list:
    members: dict[int, list] = {}
    for d, c in enumerate(cluster):
        if c >= 0:
            members.setdefault(int(c), []).append(d)
    return [(a, b) for ds in members.values() for i, a in enumerate(ds)
            for b in ds[i + 1:]]


def check_dedup(corp: dict, pairs: list, keep: list, notes: dict) -> list[str]:
    """LSH candidates: recall on the planted near-duplicate pairs. Keep
    list: exactly the connected components of the candidates, one kept
    document each (all documents score the same quality, so the
    smallest id). Candidates below Jaccard ``JACCARD_MIN`` are LSH
    false positives, reported in ``notes``, not failed: the operator
    returns unverified candidates by contract."""
    toks = corp["tokens"]
    errs = []
    got = {(min(a, b), max(a, b)) for a, b in pairs}
    planted = planted_pairs(corp["cluster"])
    found = sum(1 for p in planted if p in got)
    if found < PAIR_RECALL * len(planted):
        errs.append(f"LSH found {found}/{len(planted)} planted near-duplicate pairs")
    notes["lsh_pairs"] = len(pairs)
    notes["lsh_low_jaccard_frac"] = (
        sum(1 for a, b in pairs if jaccard(toks[a], toks[b]) < JACCARD_MIN)
        / max(len(pairs), 1))
    want = _components(len(toks), list(got))
    rep = {d: r for d, r, _ in keep}
    if rep != want:
        errs.append(f"keep list components differ from the candidate graph's "
                    f"({len(rep)} vs {len(want)} documents)")
    kept = sorted(d for d, _, k in keep if k)
    if kept != sorted(set(want.values())):
        errs.append("keep list does not keep the smallest document of each component")
    return errs


def tfidf_reference(tokens: list, min_df: int = 2, max_df_frac: float | None = None):
    """(term index, per-doc {token: weight}) with weight
    tf * (ln((N+1)/(df+1)) + 1); term ids by (df desc, token asc) over
    tokens with df >= min_df."""
    n = len(tokens)
    dfc = Counter(t for doc in tokens for t in set(doc))
    vocab = sorted((t for t, c in dfc.items() if c >= min_df),
                   key=lambda t: (-dfc[t], t))
    term_idx = {t: i for i, t in enumerate(vocab)}
    keep = (lambda t: True) if max_df_frac is None else \
        (lambda t: dfc[t] <= max_df_frac * n)
    weights = []
    for doc in tokens:
        tf = Counter(doc)
        weights.append({t: c * (math.log((n + 1.0) / (dfc[t] + 1.0)) + 1.0)
                        for t, c in tf.items() if keep(t)})
    return term_idx, weights


def check_tfidf(corp: dict, rows: list) -> list[str]:
    term_idx, weights = tfidf_reference(corp["tokens"])
    errs = []
    got_docs = set()
    for doc_id, idx, val in rows:
        got_docs.add(doc_id)
        want = sorted((term_idx[t], w) for t, w in weights[doc_id].items()
                      if t in term_idx)
        if list(idx) != [i for i, _ in want]:
            errs.append(f"tf-idf term ids differ for doc {doc_id}")
            break
        if not np.allclose(val, [round(w, 6) for _, w in want], rtol=0, atol=1e-6):
            errs.append(f"tf-idf weights differ for doc {doc_id}")
            break
    want_docs = {d for d, w in enumerate(weights) if any(t in term_idx for t in w)}
    if got_docs != want_docs:
        errs.append(f"tf-idf covers {len(got_docs)} docs, expected {len(want_docs)}")
    return errs


def check_cosine(corp: dict, rows: list, threshold: float,
                 max_df_frac: float = 0.5) -> list[str]:
    _, weights = tfidf_reference(corp["tokens"], min_df=1, max_df_frac=max_df_frac)
    norms = [math.sqrt(sum(w * w for w in d.values())) for d in weights]

    def cos(a, b):
        wa, wb = weights[a], weights[b]
        dot = sum(w * wb[t] for t, w in wa.items() if t in wb)
        return dot / (norms[a] * norms[b])

    errs = []
    got = set()
    for a, b, c in rows:
        got.add((a, b))
        ref = cos(a, b)
        if ref < threshold - COSINE_TOL or abs(ref - c) > COSINE_TOL:
            errs.append(f"cosine pair ({a},{b}) reported {c}, numpy {ref:.6f}")
            break
    missed = [(a, b) for a, b in planted_pairs(corp["cluster"])
              if cos(a, b) >= threshold + COSINE_TOL and (a, b) not in got]
    if missed:
        errs.append(f"{len(missed)} planted pairs above cosine {threshold} "
                    f"missing, e.g. {missed[:3]}")
    return errs
