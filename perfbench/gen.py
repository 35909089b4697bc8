"""Seeded generator of the IMDB-shaped corpus the benchmark's
`imdb_pipeline` workload reads.

The same seed always gives byte-for-byte the same corpus files:
opinion-labelled reviews in the reference's IMDB directory layout
(train/{pos,neg}/*.txt, test/*.txt). The catalog workload needs no
generator: it reads the repo's sf0.01 test tables, copied into data/.

Outputs are cached per (kind, generator version, seed, size) under the
cache root with a `_SUCCESS` marker written last; a directory without
the marker is regenerated, so a half-written input is never measured.
"""
import hashlib
import os
import shutil

import numpy as np

GEN_VERSION = 2

# neutral words: the vocabulary of the sf0.01 `documents` table
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
POSITIVE = ("great excellent loved wonderful best fun beautiful brilliant "
            "enjoyed perfect").split()
NEGATIVE = "bad boring worst awful waste poor terrible dull hated mess".split()


def imdb_texts(seed, n):
    """`n` reviews and their labels (1.0 positive, 0.0 negative, drawn
    with equal odds). A review is 10-99 words; each word is an opinion
    word with probability 0.15, of the review's own polarity four times
    in five, and otherwise a word of the neutral vocabulary."""
    rng = np.random.Generator(np.random.PCG64([seed, 51]))
    labels = rng.integers(0, 2, n).astype(float)
    pools = {1.0: (np.array(POSITIVE), np.array(NEGATIVE)),
             0.0: (np.array(NEGATIVE), np.array(POSITIVE))}
    neutral = np.array(WORDS)
    texts = []
    for label, k in zip(labels, rng.integers(10, 100, n)):
        own, other = pools[label]
        kind = rng.random(k)
        words = np.where(kind < 0.12, own[rng.integers(0, 10, k)],
                         np.where(kind < 0.15, other[rng.integers(0, 10, k)],
                                  neutral[rng.integers(0, len(neutral), k)]))
        texts.append(" ".join(words))
    return texts, list(labels)


def _write_corpus(root, seed, n_train, n_test):
    texts, labels = imdb_texts(seed, n_train + n_test)
    for sub in ("train/pos", "train/neg", "test"):
        os.makedirs(os.path.join(root, sub))
    rng = np.random.Generator(np.random.PCG64([seed, 52]))
    for i in range(n_train):
        sub = "pos" if labels[i] == 1.0 else "neg"
        rating = int(rng.integers(7, 11)) if sub == "pos" else int(rng.integers(1, 5))
        with open(os.path.join(root, "train", sub, f"{i}_{rating}.txt"), "w") as f:
            f.write(texts[i])
    for i in range(n_test):
        with open(os.path.join(root, "test", f"{i:05d}.txt"), "w") as f:
            f.write(texts[n_train + i])
    # the held-out labels of the test files, for the accuracy check
    with open(os.path.join(root, "test_labels.tsv"), "w") as f:
        for i in range(n_test):
            f.write(f"{i:05d}\t{labels[n_train + i]:.1f}\n")


def cached(cache_root, kind, seed, size, make):
    """Directory holding input `kind` for (seed, size), generated by
    `make(dir)` unless a complete copy is already cached."""
    d = os.path.join(cache_root, f"{kind}-v{GEN_VERSION}-s{seed}-{size}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    make(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    os.rename(tmp, d)
    return d


def imdb_input(cache_root, seed, n_train, n_test):
    return cached(cache_root, "imdb", seed, f"{n_train}-{n_test}",
                  lambda d: _write_corpus(d, seed, n_train, n_test))


def digest(path):
    """Content digest of a generated input directory: every file's
    relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
