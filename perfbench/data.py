"""Seeded input tables for the workloads.

The tables mimic the TPC-H ``orders`` shape and the ``documents`` corpus
of the repo's test data, but are generated here from the run's seed, so
a run needs nothing outside its checkout and the same seed always gives
the same bytes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

def orders(seed: int, *, rows: int, months, customers: int, first_key: int = 1) -> pd.DataFrame:
    """Orders placed in ``months`` (months since 1993-01, drawn uniformly),
    keyed ``first_key, first_key + 1, ...`` in month order, as order keys
    are handed out over time: each month's file holds one key range."""
    rng = np.random.default_rng([seed, 2, first_key])
    month = np.sort(rng.choice(np.asarray(months, dtype="int64"), rows))
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(first_key, first_key + rows, dtype="int64"),
            "o_custkey": rng.integers(1, customers + 1, rows).astype("int64"),
            "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), rows),
            "o_totalprice": np.round(rng.uniform(900.0, 450_000.0, rows), 2),
            "o_orderpriority": rng.choice(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), rows
            ),
            "o_ordermonth": month,
        }
    )


VOCAB = (
    "spark data table scan merge column row index query filter value key batch "
    "stream window hash sort group part line fast slow big small order agg vector "
    "join file commit plan shard cache page block token model train corpus bloom "
    "zone map delta schema store reader writer"
).split()
STOPWORDS = ["the", "and", "of", "to", "in", "is"]
LANGS = ["en", "de", "fr", "es", "zh"]
DIM = 32
SOURCES = 20


def _sentence_text(rng, n_words: int) -> str:
    words = rng.choice(np.array(VOCAB + STOPWORDS, dtype=object), n_words)
    out, start = [], 0
    while start < n_words:
        end = min(n_words, start + int(rng.integers(8, 16)))
        out.append(" ".join(words[start:end]) + ".")
        start = end
    return " ".join(out)


def documents(seed: int, *, docs: int, exact_groups: int, near_pairs: int,
              semantic_pairs: int, junk: int) -> tuple[pd.DataFrame, dict]:
    """A corpus plus the duplicates injected into it.

    Base documents are 60-120 words with sentence punctuation and English
    stopwords, so ``quality_score_col`` scores them 1.0. ``junk`` extra
    documents are a few words with no punctuation or stopwords and score 0.
    Injected, each with a fresh ``doc_id`` and a random embedding unless
    noted:

    - ``exact_groups`` groups: 1-3 copies of a base document that differ
      only in case and spacing, so they share its fingerprint;
    - ``near_pairs`` pairs: a copy of a base document with its last word
      replaced (word 3-shingle Jaccard > 0.9);
    - ``semantic_pairs`` pairs: new text whose embedding is a base
      document's embedding plus noise (cosine > 0.99).

    Every injection targets a different base document. Returns the frame
    and ``{"exact": [[ids...]], "near": [[a, b]], "semantic": [[a, b]],
    "junk": [ids]}``.
    """
    rng = np.random.default_rng([seed, 3])
    texts = [_sentence_text(rng, int(rng.integers(60, 121))) for _ in range(docs)]
    emb = rng.standard_normal((docs, DIM)).astype("float32")
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), docs)]
    targets = rng.permutation(docs)[: exact_groups + near_pairs + semantic_pairs]
    injected = {"exact": [], "near": [], "semantic": [], "junk": []}
    extra_text, extra_emb, extra_lang = [], [], []

    def add(text, vec, lang):
        extra_text.append(text)
        extra_emb.append(vec)
        extra_lang.append(lang)
        return docs + len(extra_text) - 1

    for t in targets[:exact_groups]:
        group = [int(t)]
        for _ in range(int(rng.integers(1, 4))):
            variant = "  ".join(texts[t].upper().split()) + " "
            group.append(add(variant, rng.standard_normal(DIM).astype("float32"), langs[t]))
        injected["exact"].append(group)
    for t in targets[exact_groups: exact_groups + near_pairs]:
        words = texts[t].split()
        words[-1] = "replaced."
        injected["near"].append(
            [int(t), add(" ".join(words), rng.standard_normal(DIM).astype("float32"), langs[t])]
        )
    for t in targets[exact_groups + near_pairs:]:
        vec = emb[t] + 0.01 * rng.standard_normal(DIM).astype("float32")
        injected["semantic"].append(
            [int(t), add(_sentence_text(rng, int(rng.integers(60, 121))), vec, langs[t])]
        )
    for _ in range(junk):
        text = " ".join(rng.choice(np.array(VOCAB, dtype=object), 3))
        injected["junk"].append(add(text, rng.standard_normal(DIM).astype("float32"), "en"))

    all_emb = np.concatenate([emb, np.array(extra_emb, dtype="float32").reshape(-1, DIM)])
    all_text = texts + extra_text
    frame = pd.DataFrame(
        {
            "doc_id": np.arange(len(all_text), dtype="int64"),
            "text": all_text,
            "lang": langs + extra_lang,
            "source": [f"src{k}" for k in rng.integers(0, SOURCES, len(all_text))],
            "n_chars": np.array([len(t) for t in all_text], dtype="int64"),
            "embedding": [row.tolist() for row in all_emb],
        }
    )
    return frame, injected
