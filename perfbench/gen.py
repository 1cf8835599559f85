"""Seeded input generators for the benchmark.

Every input the benchmark feeds to levsim is built here from the run's
``--seed``; the same seed gives byte-identical inputs.  The program under
test only ever sees the generated tables, never the seed or the ground
truth columns (``entity_id``, ``copy_of``), which stay in the benchmark
process for the output checks.

Two families:

* ``pages`` — Common-Crawl-like pages for the ER pipeline: a fixed number
  of pages from entities with 1..dups_max near-duplicate pages (char
  edits, an occasional adjacent token swap, a quarter of the duplicates on
  mirror hosts).
* ``documents`` / ``embeddings`` — the shape of the sf0.1 leaf test
  tables (31-word vocabulary, 10..100 words per doc, 5 languages, 20
  sources; 64-d unit vectors in 10 weak clusters), plus a seeded copy of a
  fraction of the rows as planted near-duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# vocabulary of the sf0.1 documents test table
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20

PAGE_VOCAB = (
    "home news about contact product service price review report market city "
    "travel hotel music video sports health energy science research school "
    "weather forecast policy culture history finance company team support "
    "account login search index archive update release guide help media "
    "photo event local global online store order shipping payment data cloud "
    "software network security privacy mobile device engine model system"
).split()
PAGE_LANGS = ["en", "de", "es", "fr", "zh"]
_ALPHA = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _char_edits(rng: np.random.Generator, text: str, n_edits: int) -> str:
    chars = list(text)
    for _ in range(n_edits):
        if not chars:
            break
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(chars)))
        if op == 0:
            chars[pos] = str(rng.choice(_ALPHA))
        elif op == 1:
            chars.insert(pos, str(rng.choice(_ALPHA)))
        else:
            del chars[pos]
    return "".join(chars)


def pages(seed: int, n_pages: int, dups_max: int) -> pd.DataFrame:
    """``n_pages`` rows of a pages table (url, warc_ts, html, text, lang)
    plus ground-truth ``entity_id``; entities are added until the table is
    full, the last one with fewer duplicates if need be, so every seed
    gives the same number of pages.  Duplicates carry ~1% char edits and, 30% of the time,
    one adjacent token swap, so duplicate-vs-original ratio stays >= ~0.93
    at the pipeline's default tau of 0.87 while distinct entities (random
    30..90-word texts) stay far apart."""
    rng = np.random.default_rng([seed, 1])
    rows = []
    base_epoch = 1_700_000_000
    ent = -1
    while len(rows) < n_pages:
        ent += 1
        words = rng.integers(0, len(PAGE_VOCAB), size=30 + int(rng.integers(0, 60)))
        base = " ".join(PAGE_VOCAB[i] for i in words)
        lang = PAGE_LANGS[int(rng.integers(0, len(PAGE_LANGS)))]
        for d in range(min(1 + int(rng.integers(0, dups_max)), n_pages - len(rows))):
            text = base
            if d:
                text = _char_edits(rng, base, int(rng.integers(0, max(2, len(base) // 100))))
                if rng.random() < 0.3:
                    toks = text.split(" ")
                    i = int(rng.integers(0, len(toks) - 1))
                    toks[i], toks[i + 1] = toks[i + 1], toks[i]
                    text = " ".join(toks)
            host = f"host{ent}.example.com"
            if d and rng.random() > 0.75:
                host = f"mirror{int(rng.integers(0, 10))}.example.org"
            rows.append((f"http://{host}/p/{ent}/{d}",
                         pd.Timestamp(base_epoch + len(rows) * 61, unit="s", tz="UTC"),
                         f"<html><body>{text}</body></html>".encode(), text, lang, ent))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang", "entity_id"])


def documents(seed: int, n_docs: int, copy_frac: float) -> pd.DataFrame:
    """Documents table (doc_id, text, lang, source, n_chars) plus
    ground-truth ``copy_of`` (-1 for originals).

    The copies get token-level edits drawn from DOC_VOCAB, never character
    edits: a character edit mints a new word, every new word mints new
    shingles, and once the shingle vocabulary passes
    ``prefix_filtered_jaccard_pairs``' dense cap (4096) q8 leaves its
    dense-bitset plan for the sparse PPJoin plan.  Measured on the sf0.1
    tables doubled with character-edited copies: q8 took 144 s of a 197 s
    leaf suite.  The sparse plan is measured on purpose, and separately, by
    the small ``noised_subset`` leaf (q8s)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(DOC_VOCAB)
    lens = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=k)]) for k in lens]
    langs = rng.choice(DOC_LANGS, size=n_docs, p=DOC_LANG_P)
    ids = np.arange(n_docs, dtype=np.int64)
    df = pd.DataFrame({"doc_id": ids, "text": texts, "lang": langs,
                       "source": [f"src{i % N_SOURCES}" for i in ids],
                       "copy_of": np.full(n_docs, -1, dtype=np.int64)})
    n_copies = int(round(n_docs * copy_frac))
    if n_copies:
        src = np.sort(rng.choice(n_docs, size=n_copies, replace=False))
        copies = df.iloc[src].copy()
        copies["copy_of"] = copies["doc_id"]
        copies["doc_id"] = n_docs + np.arange(n_copies, dtype=np.int64)
        copies["text"] = [_token_edits(rng, t, vocab) for t in copies["text"]]
        df = pd.concat([df, copies], ignore_index=True)
    df["n_chars"] = df["text"].str.len().astype(np.int64)
    return df[["doc_id", "text", "lang", "source", "n_chars", "copy_of"]]


def _token_edits(rng: np.random.Generator, text: str, vocab: np.ndarray) -> str:
    """Substitute, insert or delete ~4% of the tokens (at least one), using
    only in-vocabulary words."""
    toks = text.split(" ")
    for _ in range(max(1, len(toks) // 25)):
        op = rng.integers(0, 3)
        pos = int(rng.integers(0, len(toks)))
        if op == 0:
            toks[pos] = str(vocab[rng.integers(0, len(vocab))])
        elif op == 1:
            toks.insert(pos, str(vocab[rng.integers(0, len(vocab))]))
        elif len(toks) > 1:
            del toks[pos]
    return " ".join(toks)


def embeddings(seed: int, n_vecs: int, copy_frac: float, dim: int = 64,
               n_labels: int = 10) -> pd.DataFrame:
    """Embeddings table (vec_id, embedding float32[dim], label): unit vectors
    around ``n_labels`` weak cluster centres, plus copies of ``copy_frac``
    of the rows with sigma=0.01 noise (cosine ~0.997 to their source)."""
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, size=n_vecs)
    x = 0.5 * centres[labels] + rng.normal(size=(n_vecs, dim)) / np.sqrt(dim)
    n_copies = int(round(n_vecs * copy_frac))
    copy_of = np.full(n_vecs, -1, dtype=np.int64)
    if n_copies:
        src = np.sort(rng.choice(n_vecs, size=n_copies, replace=False))
        x = np.vstack([x, x[src] + rng.normal(scale=0.01, size=(n_copies, dim))])
        labels = np.concatenate([labels, labels[src]])
        copy_of = np.concatenate([copy_of, src])
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(len(x), dtype=np.int64),
                         "embedding": list(x), "label": labels.astype(np.int32),
                         "copy_of": copy_of})


def noised_subset(seed: int, docs: pd.DataFrame, n: int) -> pd.DataFrame:
    """``n`` seeded rows of ``docs`` for q8s: a third are planted copies and
    another third their originals, with char edits on 4% of the words, so
    most pairs keep shingle Jaccard >= 0.5; the rest are filler docs with
    char edits on half of the words.  The filler pushes the shingle
    vocabulary far past the dense cap, so ``prefix_filtered_jaccard_pairs``
    takes its sparse PPJoin plan and still has pairs to return."""
    rng = np.random.default_rng([seed, 4])
    copies = docs[docs["copy_of"] >= 0]
    picked = copies.iloc[np.sort(rng.choice(len(copies), size=min(n // 3, len(copies)),
                                            replace=False))]
    pair_ids = np.concatenate([picked["doc_id"], picked["copy_of"]])
    rest = docs[~docs["doc_id"].isin(pair_ids)]
    filler = rest.iloc[np.sort(rng.choice(len(rest), size=min(n - len(pair_ids), len(rest)),
                                          replace=False))]
    sub = docs[docs["doc_id"].isin(pair_ids)]
    sub = pd.concat([_noised(rng, sub, 0.04), _noised(rng, filler, 0.5)])
    return sub.sort_values("doc_id", ignore_index=True)


def _noised(rng: np.random.Generator, docs: pd.DataFrame, word_p: float) -> pd.DataFrame:
    texts = []
    for t in docs["text"]:
        toks = t.split(" ")
        for i in np.flatnonzero(rng.random(len(toks)) < word_p):
            toks[i] = _char_edits(rng, toks[i], 1) or toks[i]
        texts.append(" ".join(toks))
    return docs.assign(text=texts, n_chars=[len(t) for t in texts])
