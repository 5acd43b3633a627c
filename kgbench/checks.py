"""Output checks. Each returns a list of problems; an empty list passes.

The checks take plain pandas/Python values, so the self-test can hand
them deliberately corrupted outputs and see them fail.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TRIPLE_COLS = ["subj", "pred", "obj", "doc_id", "sentence_id"]


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(
        zip(*[df[c].astype(str if df[c].dtype == object else "int64") for c in cols])
    )


def check_triples(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """The written triples equal the expected ones (the generator's gold,
    or an earlier job's output) exactly, as multisets of
    (subj, pred, obj, doc_id, sentence_id) rows."""
    g, e = _rows(got, TRIPLE_COLS), _rows(expected, TRIPLE_COLS)
    if g == e:
        return []
    gs, es = set(g), set(e)
    return [
        f"triples differ: {len(g)} rows, {len(e)} expected; "
        f"{len(gs - es)} unexpected, {len(es - gs)} missing"
    ]


def authority_tags(model, encoded_rows, sparse_dim: int) -> dict[tuple, str]:
    """Driver-side tags for encoded sentence rows (doc_id, sentence_id,
    token_ids, feat_dense, feat_sparse): one sentence at a time through
    ``SequenceModel.predict_tags``, the single-node authority."""
    out = {}
    for r in encoded_rows:
        n = len(r["token_ids"])
        dense = np.asarray(r["feat_dense"], dtype=np.float32).reshape(n, -1)
        x = np.zeros((1, n, dense.shape[1] + sparse_dim), dtype=np.float32)
        x[0, :, : dense.shape[1]] = dense
        for t, idxs in enumerate(r["feat_sparse"]):
            x[0, t, dense.shape[1] + np.asarray(idxs, dtype=np.int64)] = 1.0
        tags = model.predict_tags(x, np.array([n]))[0]
        for tid, tag in zip(r["token_ids"], tags):
            out[(r["doc_id"], r["sentence_id"], tid)] = tag
    return out


def check_tags(got: dict[tuple, str], expected: dict[tuple, str]) -> list[str]:
    """Engine tags on the sample equal the authority's, token for token."""
    if not expected:
        return ["empty tag sample"]
    if got == expected:
        return []
    diff = [k for k in expected if got.get(k) != expected[k]]
    extra = [k for k in got if k not in expected]
    return [f"{len(diff)} of {len(expected)} sample tags differ, {len(extra)} extra"]


def alias_components(alias: pd.DataFrame) -> dict[str, str]:
    """canonical_id → min canonical_id of its alias-connected component,
    by driver-side union-find over the alias table."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for _, ids in alias.groupby("alias")["canonical_id"]:
        ids = sorted(ids)
        for other in ids[1:]:
            a, b = find(ids[0]), find(other)
            if a != b:
                parent[max(a, b)] = min(a, b)
    return {cid: find(cid) for cid in alias["canonical_id"]}


def check_components(triples: pd.DataFrame, components: dict[str, str]) -> list[str]:
    """Every subj and obj is a component id (a canonical root)."""
    bad = set(triples["subj"]).union(triples["obj"]) - set(components.values())
    return [f"{len(bad)} subj/obj values are not canonical components"] if bad else []


def check_pair_sentences(triples: pd.DataFrame, linked: pd.DataFrame) -> list[str]:
    """The triples cover exactly the sentences that hold two linked
    mentions starting at different tokens (``linked``: doc_id,
    sentence_id, start_tok of the mentions with a component), since
    ``triples.extract_triples`` makes a triple of every such pair and of
    nothing else. So an empty output passes only when no sentence holds
    such a pair, as on some seeds of the neural path."""
    starts = linked.groupby(["doc_id", "sentence_id"])["start_tok"].nunique()
    want = {(str(d), int(s)) for (d, s), n in starts.items() if n >= 2}
    got = {(str(d), int(s)) for d, s in zip(triples["doc_id"], triples["sentence_id"])}
    if got == want:
        return []
    return [
        f"triples cover {len(got)} sentences, {len(want)} hold a linked "
        f"mention pair; {len(got - want)} unexpected, {len(want - got)} missing"
    ]


def check_analytics(
    got: dict[str, pd.DataFrame], oracle: dict[str, pd.DataFrame]
) -> list[str]:
    """Each analytics product equals its DuckDB oracle: same columns, same
    rows in any order, floats within 1e-9 (scripts/verify_oracle.compare)."""
    from scripts.verify_oracle import compare

    problems = []
    for name, expected in oracle.items():
        if name not in got:
            problems.append(f"{name}: product missing")
            continue
        problems += [f"{name}: {p}" for p in compare(name, got[name], expected)]
    return problems
