"""Seeded input generator for the benchmark workloads.

Every table the engine's loaders know is written as
``<dir>/tables/<name>.parquet``, so both the Spark slugs and their
DuckDB oracles (``tools/check_correctness.duck_con`` binds all ten) run
on the same files. The tables a workload does not read come from
``tools/gen_scale_data.generate`` at a tiny scale factor; the driving
table (documents or events) is then written again from ``--seed`` at
the workload's size. ``mr_wordcount`` also gets Zipf text files.

The same (workload, seed, sizes) always yields the same bytes: a
manifest records the row counts and a SHA-256 over the written files,
and a directory whose manifest matches is reused instead of rebuilt.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2
# scale factor of the tables no workload drives (a few rows each)
BASE_SF = 1e-4

# Shares of the documents table that are exact copies / 1-2 word edits
# of an earlier document, so the dedup stages have real work.
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10


def _events(rng: np.random.Generator, n_events: int) -> pa.Table:
    """Poisson arrivals over 30 days, ~66 events per user, with the
    columns and value ranges of ``tools/gen_scale_data``."""
    from tools.gen_scale_data import DAY_US, EVENT_TYPES, _ts_us

    n_users = max(3, n_events // 66)
    span = 30 * DAY_US
    off = np.cumsum(rng.exponential(span / n_events, n_events))
    off = (off / off[-1] * (span - 1)).astype("int64")
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts_us("2024-01-01", off),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.21), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word salad of 10-100 tokens; EXACT_DUP_SHARE of the documents
    copy an earlier one verbatim and NEAR_DUP_SHARE copy one with 1-2
    words replaced."""
    from tools.gen_scale_data import DOC_VOCAB, LANG_P, LANGS

    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 101, n_docs)]
    picks = rng.permutation(np.arange(1, n_docs))
    n_exact, n_near = int(n_docs * EXACT_DUP_SHARE), int(n_docs * NEAR_DUP_SHARE)
    for i in np.sort(picks[:n_exact]):
        texts[i] = texts[rng.integers(0, i)]
    for i in np.sort(picks[n_exact : n_exact + n_near]):
        words = texts[rng.integers(0, i)].split()
        for _ in range(int(rng.integers(1, 3))):
            words[rng.integers(0, len(words))] = vocab[rng.integers(0, len(vocab))]
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _zipf_text(rng: np.random.Generator, out_dir: str, n_words: int, vocab_size: int, n_files: int) -> Counter:
    """Text files of Zipf(1) words over a generated vocabulary, 12
    words a line. Returns the exact word counts."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < vocab_size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 10)))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    p = 1.0 / np.arange(1, vocab_size + 1)
    idx = rng.choice(vocab_size, n_words, p=p / p.sum())
    words = np.array(vocab)[idx]
    for f, chunk in enumerate(np.array_split(words, n_files)):
        lines = [" ".join(chunk[i : i + 12]) for i in range(0, len(chunk), 12)]
        with open(os.path.join(out_dir, f"part-{f:03d}.txt"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
    uniq, counts = np.unique(idx, return_counts=True)
    return Counter({vocab[u]: int(c) for u, c in zip(uniq, counts)})


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            path = os.path.join(dirpath, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(out_dir: str, workload: str, seed: int, sizes: dict[str, int]) -> dict:
    """Write the inputs of ``workload`` under ``out_dir`` and return
    the manifest: sizes, row counts per table, the content digest and,
    for text inputs, the expected word counts."""
    from tools.gen_scale_data import generate as generate_tables

    key = {"gen_version": GEN_VERSION, "workload": workload, "seed": seed, "sizes": sizes}
    mpath = os.path.join(out_dir, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            manifest = json.load(fh)
        if manifest.get("key") == key:
            return manifest
    shutil.rmtree(out_dir, ignore_errors=True)
    tables_dir = os.path.join(out_dir, "tables")
    with contextlib.redirect_stdout(io.StringIO()):  # it prints a line per table
        generate_tables(tables_dir, BASE_SF)
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    if "events" in sizes:
        pq.write_table(_events(rng, sizes["events"]), os.path.join(tables_dir, "events.parquet"))
    if "documents" in sizes:
        pq.write_table(_documents(rng, sizes["documents"]), os.path.join(tables_dir, "documents.parquet"))
    manifest = {
        "key": key,
        "tables_dir": tables_dir,
        "rows": {
            f[: -len(".parquet")]: pq.read_metadata(os.path.join(tables_dir, f)).num_rows
            for f in sorted(os.listdir(tables_dir))
        },
    }
    if sizes.get("words"):
        text_dir = os.path.join(out_dir, "text")
        os.makedirs(text_dir)
        counts = _zipf_text(rng, text_dir, sizes["words"], sizes["vocab"], sizes["files"])
        manifest.update(
            text_dir=text_dir,
            rows={**manifest["rows"], "words": sizes["words"], "distinct_words": len(counts)},
            text_bytes=sum(
                os.path.getsize(os.path.join(text_dir, f)) for f in os.listdir(text_dir)
            ),
            word_counts=counts,
        )
    manifest["sha256"] = _digest(out_dir)
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)
    return manifest
