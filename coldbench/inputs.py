"""Seed-driven input generators for the cold-fit benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical arrays, and the parquet writer emits a fixed file layout,
so a run's inputs can be regenerated (and re-checked) from the seed alone.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

# a fixed planted signal shared by the dense designs: five informative
# features, the rest noise
_DENSE_SIGNAL = (1.0, -0.8, 0.6, -0.5, 0.4)
_FAMILY_CODE = {"gaussian": 0, "binomial": 1, "poisson": 2}


def dense_glm(seed: int, n: int, p: int, family: str) -> dict:
    """Dense n x p design with a planted sparse signal and a response
    drawn from ``family`` (binomial labels are 0/1 floats)."""
    rng = np.random.default_rng([seed, p, _FAMILY_CODE[family]])
    x = rng.standard_normal((n, p))
    beta = np.zeros(p)
    beta[:len(_DENSE_SIGNAL)] = _DENSE_SIGNAL
    lp = x @ beta
    if family == "binomial":
        y = (rng.random(n) < 1.0 / (1.0 + np.exp(-lp))).astype(np.float64)
    elif family == "poisson":
        y = rng.poisson(np.exp(0.3 * lp)).astype(np.float64)
    else:
        y = lp + rng.standard_normal(n)
    return {"x": x, "y": y, "key": np.arange(n, dtype=np.int64)}


def sparse_onehot(seed: int, n: int, p: int, nnz: int, family: str) -> dict:
    """One-hot sparse design: every row has ``nnz`` distinct active
    features out of ``p`` (value 1.0); the response depends on twenty
    planted features with fixed effects, so only the sample varies with
    the seed. Returned as per-row sorted index arrays."""
    rng = np.random.default_rng([seed, p, nnz, _FAMILY_CODE[family]])
    idx = np.stack([rng.choice(p, nnz, replace=False) for _ in range(n)])
    idx = np.sort(idx, axis=1).astype(np.int32)
    beta = np.zeros(p)
    beta[:20] = np.resize([1.0, -1.0], 20) * np.linspace(1.5, 0.8, 20)
    lp = beta[idx].sum(axis=1)
    if family == "binomial":
        y = (rng.random(n) < 1.0 / (1.0 + np.exp(-lp))).astype(np.float64)
    else:
        y = lp + rng.standard_normal(n)
    return {"idx": idx, "val": np.ones(idx.shape), "y": y,
            "key": np.arange(n, dtype=np.int64)}


_TOKEN_WIDTH = 6  # "t" + 5 digits: every token has the same length


def _token(i: int) -> str:
    return f"t{i:0{_TOKEN_WIDTH - 1}d}"


def corpus(seed: int, n_base: int, n_clusters: int, doc_len: int = 40,
           vocab: int = 50000, max_variants: int = 2) -> dict:
    """Documents of ``doc_len`` distinct fixed-width tokens drawn from a
    large uniform vocabulary, so unrelated documents share almost no
    tokens. The first ``n_clusters`` base documents each get 1..
    ``max_variants`` near-duplicates that swap one or two tokens
    (Jaccard >= 0.9). Every document has the same length, so all of
    them fall in one dedup length block.

    Returns doc ids, texts, token lists and the planted cluster of each
    document (-1 for documents outside every cluster)."""
    rng = np.random.default_rng([seed, n_base, n_clusters, doc_len])
    toks = [rng.choice(vocab, doc_len, replace=False) for _ in range(n_base)]
    cluster = list(range(n_clusters)) + [-1] * (n_base - n_clusters)
    docs = [t.tolist() for t in toks]
    for c in range(n_clusters):
        for _ in range(int(rng.integers(1, max_variants + 1))):
            v = list(toks[c])
            for pos in rng.choice(doc_len, int(rng.integers(1, 3)), replace=False):
                new = int(rng.integers(vocab))
                while new in v:
                    new = int(rng.integers(vocab))
                v[pos] = new
            docs.append(v)
            cluster.append(c)
    # shuffle so planted copies are spread over the files and partitions
    order = rng.permutation(len(docs))
    docs = [docs[i] for i in order]
    cluster = np.asarray(cluster, dtype=np.int64)[order]
    texts = [" ".join(_token(t) for t in d) for d in docs]
    return {"doc_id": np.arange(len(docs), dtype=np.int64), "text": texts,
            "tokens": [[_token(t) for t in d] for d in docs],
            "cluster": cluster}


def to_pandas(data: dict, kind: str):
    """The generated arrays as the pandas frame the parquet files hold."""
    import pandas as pd

    if kind == "dense":
        pdf = pd.DataFrame(data["x"], columns=dense_columns(data["x"].shape[1]))
        pdf["y"] = data["y"]
        pdf["key"] = data["key"]
        return pdf
    if kind == "sparse":
        return pd.DataFrame({"idx": list(data["idx"]), "val": list(data["val"]),
                             "y": data["y"], "key": data["key"]})
    if kind == "corpus":
        text = data["text"]
        return pd.DataFrame({"doc_id": data["doc_id"], "text": text,
                             "lang": ["en"] * len(text),
                             "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    raise ValueError(f"unknown input kind {kind!r}")


def dense_columns(p: int) -> list[str]:
    return [f"x{j}" for j in range(p)]


def write_parquet(pdf, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files of contiguous row
    ranges, so a scan has at least one task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        tbl = pa.Table.from_pandas(pdf.iloc[rows], preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))
