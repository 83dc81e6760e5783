"""Seeded, single-process input generator for the benchmark.

Everything here is numpy + pyarrow in the benchmark process; the
program under test only ever reads the parquet files written here.
The same seed always gives byte-identical inputs.

``documents`` has the fixture schema (doc_id, text, lang, source,
n_chars) over a Zipf vocabulary of generated word types, with planted
near-duplicates and planted quality-gate rejects, plus a ground-truth
manifest of both.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "fr", "es", "de", "zh")
STOPWORDS = ("the", "a")  # the words the streaming quality gate counts
_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"
ZIPF_S = 1.0
MIN_LEN, MAX_LEN = 25, 75  # normal docs stay inside the gate's 20..80 tokens
STOP_RATE = 0.08  # stopword share in normal docs (the gate rejects >= 0.3)
DUP_EDITS = 2  # token substitutions per planted duplicate


@dataclass(frozen=True)
class DocSpec:
    n_docs: int
    n_types: int  # word types besides the two stopwords
    dup_rate: float = 0.0  # planted near-duplicates, share of all docs
    reject_rate: float = 0.0  # planted quality-gate rejects, share of docs


def _word_types(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words, never a stopword."""
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < n:
        syl = rng.integers(2, 5)
        w = "".join(
            _CONSONANTS[rng.integers(len(_CONSONANTS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            for _ in range(syl)
        )
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def documents(seed: int, spec: DocSpec, out_dir: str) -> dict:
    """Write ``out_dir/documents.parquet`` and ``out_dir/manifest.json``;
    return the manifest (planted duplicate pairs and rejects by kind)."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_word_types(rng, spec.n_types), dtype=object)
    probs = _zipf_probs(spec.n_types, ZIPF_S)
    n = spec.n_docs

    def normal_doc(length: int) -> list[str]:
        toks = vocab[rng.choice(spec.n_types, size=length, p=probs)]
        stop = rng.random(length) < STOP_RATE
        if stop.sum() >= 0.25 * length:
            stop[:] = False  # keep normal docs clear of the gate's 0.3
        toks[stop] = rng.choice(STOPWORDS, size=int(stop.sum()))
        return list(toks)

    kinds = rng.random(n)
    n_rejects = 0
    texts: list[list[str]] = []
    rejects: dict[str, list[int]] = {"short": [], "long": [], "stopwords": []}
    dups: list[list[int]] = []
    originals: list[int] = []  # normal docs a duplicate may copy
    for i in range(n):
        u = kinds[i]
        if u < spec.reject_rate:
            kind = ("short", "long", "stopwords")[n_rejects % 3]
            n_rejects += 1
            if kind == "short":
                toks = normal_doc(int(rng.integers(5, 20)))
            elif kind == "long":
                toks = normal_doc(int(rng.integers(81, 121)))
            else:
                length = int(rng.integers(MIN_LEN, MAX_LEN + 1))
                toks = normal_doc(length)
                n_stop = int(np.ceil(0.4 * length))
                at = rng.choice(length, size=n_stop, replace=False)
                for j in at:
                    toks[j] = STOPWORDS[int(rng.integers(2))]
            rejects[kind].append(i)
        elif u < spec.reject_rate + spec.dup_rate and originals:
            src = originals[int(rng.integers(len(originals)))]
            toks = list(texts[src])
            at = rng.choice(len(toks), size=DUP_EDITS, replace=False)
            for j in at:
                toks[j] = vocab[int(rng.integers(spec.n_types))]
            dups.append([i, src])
        else:
            toks = normal_doc(int(rng.integers(MIN_LEN, MAX_LEN + 1)))
            originals.append(i)
        texts.append(toks)

    text = [" ".join(t) for t in texts]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(
                [LANGS[k] for k in rng.integers(len(LANGS), size=n)], pa.string()
            ),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(20, size=n)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    # several row groups so a scan splits without a repartition
    pq.write_table(
        table,
        os.path.join(out_dir, "documents.parquet"),
        row_group_size=max(1, n // 8),
    )
    manifest = {
        "seed": seed,
        "n_docs": n,
        "n_types": spec.n_types,
        "near_duplicates": dups,
        "rejects": rejects,
        "n_tokens": int(sum(len(t) for t in texts)),
        # word types from most to least frequent (Zipf rank order)
        "words_by_rank": list(vocab[:100]),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
