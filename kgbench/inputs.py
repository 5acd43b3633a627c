"""Seeded input generator for the KG-construction benchmark.

Each input is a pure function of its arguments (same seed → same bytes).
The engine only ever receives the tables built here.

* ``web_pages``: ``corpus.generate`` at web weight (20-60 sentences per
  page) plus recrawled duplicate URLs. A duplicate carries a later
  ``warc_ts`` and either identical or truncated HTML, so the pipeline's
  max-bytes dedup rule keeps the original copy and the generator's gold
  triples stay the exact expected output.
* ``distractor_aliases``: a large alias dictionary that never matches.
  Every alias is two words: the first is a corpus word (so it passes the
  gazetteer's first-word prefilter and its phrases are built and probed),
  the second never occurs in the corpus. Canonical ids are chained in
  groups of ``CHAIN`` so ``graph.canonical_map`` does real union-find,
  and no distractor id shares an alias with a corpus concept, so the
  gold components are unchanged.

The skewed triple table of ``analytics_skew`` comes from
``scripts/verify_kg_scale.gen_triples``, called with the workload's size
and seed.
"""

from __future__ import annotations

from datetime import timedelta

import numpy as np
import pandas as pd

from bioner_spark.corpus import generate

# every distractor's second word starts with this; no corpus word does
DISTRACTOR_MARK = "zx"
CHAIN = 8  # distractor ids per alias-connected component
DUP_FRAC = 0.05  # recrawled duplicate URLs per original page


def web_pages(
    n_docs: int, seed: int, giant_doc_sentences: int = 400
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """(pages with recrawled duplicates, gold triples, corpus alias dict).

    Half of the duplicates repeat the HTML byte for byte, half truncate it
    to its first half; both sort after the original under the pipeline's
    (octet_length, bytes) max rule, so gold is the original corpus's."""
    corpus = generate(
        n_docs=n_docs,
        seed=seed,
        sent_range=(20, 60),
        giant_doc_sentences=giant_doc_sentences,
    )
    pages = corpus.pages
    rng = np.random.default_rng([seed, 1])
    n_dup = int(round(DUP_FRAC * n_docs))
    src = np.sort(rng.choice(n_docs, size=n_dup, replace=False))
    dups = pages.iloc[src].copy()
    truncate = rng.random(n_dup) < 0.5
    dups["html"] = [
        h[: len(h) // 2] if cut else h for h, cut in zip(dups["html"], truncate)
    ]
    dups["warc_ts"] = dups["warc_ts"] + timedelta(days=30)
    out = pd.concat([pages, dups], ignore_index=True)
    out = out.iloc[rng.permutation(len(out))].reset_index(drop=True)
    return out, corpus.triples, corpus.alias_dict


def corpus_words(pages: pd.DataFrame) -> list[str]:
    """Sorted distinct lowercase words of the pages' gold text."""
    words: set[str] = set()
    for text in pages["text"]:
        words.update(text.lower().split())
    return sorted(words)


def distractor_aliases(n_aliases: int, seed: int, words: list[str]) -> pd.DataFrame:
    """(alias, canonical_id, canonical_name) rows that never match a corpus
    phrase. Alias i belongs to id D(i // 2); every odd alias is also
    attached to the next id unless that id starts a new chain, so each
    chain of ``CHAIN`` ids is one alias-connected component."""
    if any(w.startswith(DISTRACTOR_MARK) for w in words):
        raise ValueError(f"corpus word starts with {DISTRACTOR_MARK!r}")
    rng = np.random.default_rng([seed, 2])
    first = np.asarray(words, dtype=object)[rng.integers(0, len(words), n_aliases)]
    aliases = [f"{w} {DISTRACTOR_MARK}{i:x}" for i, w in enumerate(first)]
    ids = [f"D{i // 2:07d}" for i in range(n_aliases)]
    rows_alias = list(aliases)
    rows_id = list(ids)
    for i in range(1, n_aliases, 2):
        nxt = i // 2 + 1
        if nxt % CHAIN and nxt < (n_aliases + 1) // 2:
            rows_alias.append(aliases[i])
            rows_id.append(f"D{nxt:07d}")
    return pd.DataFrame(
        {"alias": rows_alias, "canonical_id": rows_id, "canonical_name": rows_id}
    )

