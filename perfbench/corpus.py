"""Seeded text corpora for the MapReduce (Layer A) workload.

The same seed always yields byte-identical files.  Words follow a Zipf law
over a fixed vocabulary, so a few words repeat heavily and most are rare,
as in natural text.  The seed draws the text; the vocabulary and each word's
frequency rank stay the same for every seed, so which reduce partition gets
the most frequent words, and so how skewed the reduce side is, does not
change from seed to seed.  The corpora carry the traits of the reference's word
count fixture (FIXTURES.md, A1): several files, non-ASCII words, empty lines
and one line with a tab in it.

Each corpus is written once per (seed, size) under a cache directory,
together with the job output the generator predicts, so that generating
inputs never counts toward a measured run.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
import string
from collections import Counter
from dataclasses import dataclass

VOCAB_SIZE = 20_000
VOCAB_SEED = 485
ZIPF_S = 1.05
N_FILES = 4
# Sorting and placement must cope with multi-byte UTF-8 keys.
NON_ASCII_WORDS = ("café", "naïve", "straße", "Ωmega", "日本語", "résumé", "niño", "Ünïcode")
_LETTERS = string.ascii_lowercase + string.ascii_uppercase[:6]


@dataclass(frozen=True)
class Corpus:
    """A generated input directory and the output a correct job produces."""

    input_dir: str
    input_bytes: int
    input_lines: int
    expected_path: str  # predicted output lines, one per line

    def expected_lines(self) -> Counter[str]:
        return Counter(read_lines(self.expected_path))


def read_lines(path: str) -> list[str]:
    """The newline-terminated lines of a UTF-8 file.  Unlike ``splitlines``
    this splits on ``\\n`` only, as Hadoop's line reader does."""
    with open(path, encoding="utf-8", newline="") as f:
        data = f.read()
    return data[:-1].split("\n") if data else []


def _vocabulary(rng: random.Random) -> list[str]:
    words: set[str] = set(NON_ASCII_WORDS)
    while len(words) < VOCAB_SIZE:
        n = rng.randint(2, 10)
        words.add("".join(rng.choices(_LETTERS, k=n)))
    vocab = sorted(words)
    rng.shuffle(vocab)  # rank (and so frequency) is independent of spelling
    return vocab


def _lines(rng: random.Random, target_bytes: int):
    """Yield text lines (no newline) until about ``target_bytes`` are out."""
    vocab = _vocabulary(random.Random(VOCAB_SEED))
    cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(vocab))))
    out = 0
    while out < target_bytes:
        if rng.random() < 0.03:
            yield ""
            continue
        line = " ".join(rng.choices(vocab, cum_weights=cum, k=rng.randint(1, 16)))
        out += len(line.encode("utf-8")) + 1
        yield line


def _write(cache_dir: str, key: str, files: list[list[str]], expected: list[str]) -> Corpus:
    final = os.path.join(cache_dir, key)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    for i, lines in enumerate(files):
        with open(os.path.join(tmp, "input", f"part-{i}.txt"), "w", encoding="utf-8") as f:
            f.write("".join(line + "\n" for line in lines))
    with open(os.path.join(tmp, "expected.txt"), "w", encoding="utf-8") as f:
        f.write("".join(line + "\n" for line in expected))
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return _open(final)


def _open(path: str) -> Corpus:
    input_dir = os.path.join(path, "input")
    n_bytes = n_lines = 0
    for name in os.listdir(input_dir):
        with open(os.path.join(input_dir, name), "rb") as f:
            data = f.read()
        n_bytes += len(data)
        n_lines += data.count(b"\n")
    return Corpus(input_dir, n_bytes, n_lines, os.path.join(path, "expected.txt"))


def _split_files(lines: list[str]) -> list[list[str]]:
    per = -(-len(lines) // N_FILES)
    return [lines[i : i + per] for i in range(0, len(lines), per)]


def wordcount_corpus(cache_dir: str, seed: int, mb: float) -> Corpus:
    """Plain text for word count; the prediction is one ``word\\tcount``
    line per distinct whitespace-separated word."""
    key = f"wordcount-seed{seed}-{mb}mb"
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return _open(path)
    rng = random.Random(seed)
    lines = list(_lines(rng, int(mb * 1e6)))
    # one line whose words are separated by a tab: the key of such an input
    # line would be its first word, but word count splits on all whitespace
    k = len(lines) // 2
    lines[k] = lines[k].replace(" ", "\t", 1) if " " in lines[k] else lines[k] + "\tcafé"
    counts = Counter(w for line in lines for w in line.split())
    expected = [f"{w}\t{c}" for w, c in counts.items()]
    return _write(cache_dir, key, _split_files(lines), expected)
