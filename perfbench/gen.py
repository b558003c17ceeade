"""Seeded input generators. The same seed gives byte-identical files;
``content_hash`` is what the run records to show it."""

from __future__ import annotations

import hashlib
import itertools
import random
import string
from pathlib import Path

import refs

# mapreduce_text corpus: Zipf-distributed words over a seeded vocabulary.
# Measured on 4 vCPUs (one traced pass per size, lines per file 1500 ->
# 24000): a pass took 5.6, 6.6, 7.5, 9.4 and 14.0 s, about 5 s of it
# independent of the input, and python.total_ms was about 95% of the
# executors' run time at every size. 12000 lines per file is the
# smallest of these at which the input-dependent part of a pass is about
# half of it, so the Python/Arrow data path weighs as much as the
# per-job and per-task floor.
CORPUS = {
    "files": 16,
    "lines_per_file": 12000,
    "words_per_line": (4, 14),
    "vocab": 800,
    "zipf_s": 1.1,
}
# the punctuation the reference's word count strips (wordcount.py:22)


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    out = []
    while len(out) < size:
        w = "".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 9)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def write_corpus(seed: int, out_dir: Path, params: dict = CORPUS) -> Path:
    """Write ``params['files']`` text files of Zipf-distributed words.

    Some words carry trailing punctuation or a capital first letter, which
    the map function must strip and fold."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, params["vocab"])
    cum = list(itertools.accumulate(
        1.0 / (r + 1) ** params["zipf_s"] for r in range(len(vocab))
    ))
    lo, hi = params["words_per_line"]
    out_dir.mkdir(parents=True, exist_ok=True)
    for i in range(params["files"]):
        lines = []
        for _ in range(params["lines_per_file"]):
            words = rng.choices(vocab, cum_weights=cum, k=rng.randint(lo, hi))
            words = [
                w.capitalize() if rng.random() < 0.05 else w for w in words
            ]
            if rng.random() < 0.3:
                words[-1] += rng.choice(refs.PUNCT)
            lines.append(" ".join(words))
        (out_dir / f"doc-{i:04d}.txt").write_text("\n".join(lines) + "\n")
    return out_dir


def content_hash(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()
