"""Output checks, run outside the timed region. Each returns a list of
error strings; an empty list means the check passed. They read the stage
tables with pyarrow/pandas, never through Spark, so the engine under test
does not check itself."""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from fixtures import oracle
from imc import sqlviews
from imc.config import VENUE_STRIDE
from imc.segments import SEG_ID_STRIDE

VENUE_DIV = SEG_ID_STRIDE * VENUE_STRIDE


def read_table(path: str) -> pd.DataFrame:
    """A stage table as pandas; hive `venue` partitions come back as int64
    and list/struct columns as JSON of their rounded values, so rows hash
    by value."""
    t = pq.read_table(path)
    cols = {}
    for name in t.column_names:
        col = t.column(name)
        if name == "venue":
            cols[name] = np.asarray(col.cast("int64"))
        elif col.type.num_fields or str(col.type).startswith("list"):
            cols[name] = [json.dumps(_rounded(v)) for v in col.to_pylist()]
        else:
            cols[name] = col.to_pandas().to_numpy()
    return pd.DataFrame(cols)


def _rounded(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in sorted(v.items())}
    if isinstance(v, list):
        return [_rounded(x) for x in v]
    return v


def stage_digest(out_dir: str) -> dict:
    """{stage: [rows, order-independent content hash]}. Floats are rounded
    to 1e-6 so a different summation order cannot flip the hash."""
    out = {}
    for stage in sqlviews.STAGES:
        df = read_table(os.path.join(out_dir, stage))
        df = df[sorted(df.columns)]
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
        h = hashlib.sha256(np.sort(rows).tobytes()).hexdigest()[:24]
        out[stage] = [int(len(df)), h]
    return out


def compare_digest(got: dict, want: dict, what: str) -> list[str]:
    return [f"{what}: stage {s} {got.get(s)} != {want[s]}"
            for s in want if got.get(s) != want[s]]


def venue_oracle(out_dir: str, venues, params) -> list[str]:
    """ε-pairs and DBSCAN assignments of each venue equal the brute-force
    oracle computed from that venue's segments."""
    errors = []
    segs = read_table(os.path.join(out_dir, "segments"))
    pairs = read_table(os.path.join(out_dir, "eps_pairs"))
    assign = read_table(os.path.join(out_dir, "assignments"))
    for v in venues:
        s = segs[segs["venue"] == v].sort_values("seg_id")
        if s.empty:
            errors.append(f"venue {v}: no segments")
            continue
        ids = s["seg_id"].to_numpy(np.int64)
        xy = s[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)

        want = oracle.eps_pairs_oracle(ids, xy, params.eps)
        got = pairs[pairs["a_seg"] // VENUE_DIV == v]
        got_k = set(zip(got["a_seg"], got["b_seg"]))
        want_k = set(zip(want["a_seg"], want["b_seg"]))
        if got_k != want_k:
            errors.append(f"venue {v}: eps_pairs differ from the oracle "
                          f"({len(got_k ^ want_k)} pairs)")
        else:
            d = got.set_index(["a_seg", "b_seg"])["dist"]
            w = want.set_index(["a_seg", "b_seg"])["dist"]
            if len(w) and float(np.max(np.abs(d.loc[w.index].to_numpy()
                                               - w.to_numpy()))) > 1e-9:
                errors.append(f"venue {v}: eps_pairs distances differ")

        want_a = oracle.dbscan_oracle(ids, s["traj_id"].to_numpy(np.int64), xy,
                                      params.eps, params.min_lns)
        got_a = assign[assign["seg_id"] // VENUE_DIV == v].sort_values("seg_id")
        # global ids are a dense rank over all venues; rank within the venue
        got_ids = got_a["cluster_id"].rank(method="dense").astype(np.int64) - 1
        want_a = want_a.sort_values("seg_id")
        if (got_a["seg_id"].tolist() != want_a["seg_id"].tolist()
                or got_ids.tolist() != want_a["cluster_id"].tolist()
                or got_a["is_core"].tolist() != want_a["is_core"].tolist()):
            errors.append(f"venue {v}: assignments differ from the oracle")
    return errors


def corpus_rows(out_dir: str, want: dict) -> list[str]:
    errors = []
    for op, n in want.items():
        got = pq.read_table(os.path.join(out_dir, op)).num_rows
        if got != n:
            errors.append(f"corpus op {op}: {got} rows, expected {n}")
    return errors


def simhash64(texts) -> np.ndarray:
    """textops.simhash64_py of many texts at once: each distinct token's
    +1/-1 bit votes are computed once, and a text's votes are its token
    counts times those."""
    vocab: dict = {}
    counts = [Counter(vocab.setdefault(tok, len(vocab))
                      for tok in (t or "").lower().split()) for t in texts]
    tok_counts = np.zeros((len(texts), len(vocab)), dtype=np.int64)
    for i, c in enumerate(counts):
        tok_counts[i, list(c)] = list(c.values())
    bit = np.arange(64, dtype=np.uint64)
    votes = np.zeros((len(vocab), 64), dtype=np.int64)
    for tok, k in vocab.items():
        h = np.uint64(int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big"))
        votes[k] = 2 * ((h >> bit) & np.uint64(1)).astype(np.int64) - 1
    signs = (tok_counts @ votes > 0).astype(np.uint64)
    return (signs << bit).sum(axis=1, dtype=np.uint64).view(np.int64)


def simhash_pairs(docs_path: str, out_dir: str, max_hamming: int = 3) -> list[str]:
    """simhash_near_pairs equals brute force over the reference fingerprint
    textops.simhash64_py, row count included. The brute force uses
    `simhash64`, checked first against the scalar reference on 100 docs."""
    from imc.textops import simhash64_py

    docs = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pandas()
    fp = simhash64(docs["text"])
    sample = np.random.default_rng(0).choice(len(docs), min(100, len(docs)),
                                             replace=False)
    if [simhash64_py(docs["text"][i]) for i in sample] != fp[sample].tolist():
        return ["simhash64 differs from textops.simhash64_py"]
    ids = docs["doc_id"].to_numpy(np.int64)
    popcount = np.array([bin(b).count("1") for b in range(256)], dtype=np.uint8)
    want = set()
    for lo in range(0, len(fp), 500):  # 500 rows at a time bounds the memory
        x = np.ascontiguousarray(fp[lo:lo + 500, None] ^ fp[None, :])
        ham = popcount[x.view(np.uint8)].reshape(x.shape + (8,)).sum(-1)
        i, j = np.nonzero(ham <= max_hamming)
        keep = j > i + lo
        want |= {(min(a, b), max(a, b)) for a, b in zip(ids[i[keep] + lo], ids[j[keep]])}
    got_df = read_table(os.path.join(out_dir, "simhash_near_pairs"))
    got = set(zip(got_df["a_id"], got_df["b_id"]))
    errors = corpus_rows(out_dir, {"simhash_near_pairs": len(want)})
    if got != want:
        errors.append(f"simhash_near_pairs: {len(got ^ want)} pairs differ "
                      f"from brute force")
    return errors


def dedup_invariants(out_dir: str, n_docs: int) -> list[str]:
    """Every doc is labelled once, each cluster's id is its minimum doc id
    and that doc is the cluster's only keeper."""
    d = read_table(os.path.join(out_dir, "dedup_clusters"))
    errors = []
    if len(d) != n_docs or d["doc_id"].nunique() != n_docs:
        errors.append(f"dedup_clusters: {len(d)} rows for {n_docs} docs")
    g = d.groupby("cluster_id")
    if not (g["doc_id"].min() == g["doc_id"].min().index).all():
        errors.append("dedup_clusters: cluster_id is not the component minimum")
    if not (g["is_keeper"].sum() == 1).all():
        errors.append("dedup_clusters: a cluster has no or several keepers")
    return errors
