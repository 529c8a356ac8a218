"""Output checks. Each returns a list of problems; empty means correct."""

from __future__ import annotations

import math

import pandas as pd

#: share of planted family members that must land in their family's
#: main cluster
MIN_FAMILY_RECALL = 0.99


def check_clusters(
    clusters: pd.DataFrame,
    truth: pd.DataFrame,
    id_col: str = "url",
    min_recall: float | None = MIN_FAMILY_RECALL,
) -> list[str]:
    """``clusters``: (id, cluster_id) as the program returned it.
    ``truth``: (id, text, family) for every input row. Always checks that
    every input id appears once, that each cluster_id is the min member
    id and that identical texts share a cluster; ``min_recall`` bounds
    the share of planted family members found in their family's main
    cluster."""
    errs: list[str] = []
    ids = clusters[id_col]
    if ids.duplicated().any():
        errs.append(f"{int(ids.duplicated().sum())} ids appear more than once")
    missing = set(truth[id_col]) - set(ids)
    extra = set(ids) - set(truth[id_col])
    if missing or extra:
        errs.append(f"{len(missing)} input ids missing, {len(extra)} unknown ids present")
    if errs:
        return errs
    label_min = clusters.groupby("cluster_id")[id_col].transform("min")
    bad = int((label_min != clusters["cluster_id"]).sum())
    if bad:
        errs.append(f"{bad} rows whose cluster_id is not the min member id")
    merged = truth.merge(clusters, on=id_col)
    split_texts = int((merged.groupby("text")["cluster_id"].nunique() > 1).sum())
    if split_texts:
        errs.append(f"{split_texts} exact-duplicate texts split across clusters")
    fam = merged[merged.groupby("family")[id_col].transform("size") > 1]
    if min_recall is not None and len(fam):
        in_main = fam.groupby("family")["cluster_id"].agg(lambda s: s.value_counts().iloc[0]).sum()
        recall = in_main / len(fam)
        if recall < min_recall:
            errs.append(f"planted family recall {recall:.4f} < {min_recall}")
    return errs


def same_labels(got: pd.DataFrame, want: pd.DataFrame, id_col: str, what: str) -> list[str]:
    """Identical (id -> cluster_id) maps."""
    g = dict(zip(got[id_col], got["cluster_id"]))
    w = dict(zip(want[id_col], want["cluster_id"]))
    if g == w:
        return []
    diff = sum(1 for k in w.keys() | g.keys() if g.get(k) != w.get(k))
    return [f"{diff} ids labelled differently from {what}"]


def refines(got: pd.DataFrame, want: pd.DataFrame, id_col: str, what: str) -> tuple[list[str], float]:
    """Every cluster of ``got`` lies inside one cluster of ``want``: no
    merge that ``want`` lacks. Also returns the share of ``want``'s
    same-cluster id pairs that ``got`` keeps together (1.0 when equal)."""
    m = got.merge(want, on=id_col, suffixes=("", "_want"))
    if not len(m) == len(got) == len(want):
        return [f"ids differ from {what}"], 0.0
    errs = []
    bad = int((m.groupby("cluster_id")["cluster_id_want"].nunique() > 1).sum())
    if bad:
        errs.append(f"{bad} clusters join ids that {what} keeps apart")
    got_pairs, want_pairs = (
        int((s * (s - 1) // 2).sum()) for s in (m.groupby("cluster_id").size(), m.groupby("cluster_id_want").size())
    )
    return errs, got_pairs / want_pairs if want_pairs else 1.0


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive row list: columns by name, floats to 9
    significant digits, rows sorted."""
    cols = sorted(df.columns)
    rows = []
    for r in df[cols].itertuples(index=False, name=None):
        rows.append(tuple(float(f"{v:.9g}") if isinstance(v, float) and not math.isnan(v) else v for v in r))
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def same_rows(got: pd.DataFrame, want: pd.DataFrame, what: str) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} differ from {what} {sorted(want.columns)}"]
    g, w = canonical_rows(got), canonical_rows(want)
    if g == w:
        return []
    return [f"{len(set(g) ^ set(w))} rows differ from {what} ({len(g)} vs {len(w)} rows)"]


def check_pairs(pairs: pd.DataFrame, a: str, b: str) -> list[str]:
    """Canonical, duplicate-free pair list."""
    errs = []
    if (pairs[a] >= pairs[b]).any():
        errs.append(f"{int((pairs[a] >= pairs[b]).sum())} pairs not ordered {a} < {b}")
    if pairs.duplicated([a, b]).any():
        errs.append(f"{int(pairs.duplicated([a, b]).sum())} duplicate pairs")
    return errs


def check_topk(topk: pd.DataFrame, embeddings: pd.DataFrame, k: int) -> list[str]:
    """At most k neighbours per vector, none of them itself, each with the
    exact cosine of the two embeddings, ranked by descending cosine."""
    import numpy as np

    errs = []
    if (topk["vec_id"] == topk["neighbor_id"]).any():
        errs.append("a vector lists itself as a neighbour")
    if (topk.groupby("vec_id").size() > k).any():
        errs.append(f"a vector has more than {k} neighbours")
    emb = np.stack(embeddings.sort_values("vec_id")["embedding"].to_numpy()).astype(np.float64)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    exact = np.einsum("ij,ij->i", emb[topk["vec_id"].to_numpy()], emb[topk["neighbor_id"].to_numpy()])
    off = np.abs(exact - topk["cosine"].to_numpy())
    if len(off) and off.max() > 1e-4:
        errs.append(f"{int((off > 1e-4).sum())} neighbours with a wrong cosine (max error {off.max():.2e})")
    ranked = topk.sort_values(["vec_id", "rank"])
    if (ranked.groupby("vec_id")["cosine"].diff() > 1e-9).any():
        errs.append("neighbours not ranked by descending cosine")
    return errs
