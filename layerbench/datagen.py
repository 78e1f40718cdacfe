"""Seeded input generator for the layer benchmark.

Writes ``documents``, ``events`` and ``embeddings`` parquet tables with the
schemas and value domains of the engine's synthetic test tables:

* ``documents(doc_id bigint, text string, lang string, source string,
  n_chars bigint)`` -- space-joined words from a 30-word vocabulary,
  ``src<doc_id % 20>`` sources, five languages (``en`` most frequent);
  a near-duplicate is an earlier document's text plus the word ``dup``;
  lengths spread evenly over ``[words_min, words_max]`` in seeded order;
* ``events(event_id bigint, ts timestamp[us], user_id bigint,
  event_type string, value double, props string)`` -- sorted timestamps
  over 30 days from 2024-01-01, five event types, exponential values
  rounded to cents, ``{"k": n}`` props;
* ``embeddings(vec_id bigint, embedding list<float>, label int)`` -- unit
  vectors of dimension 64, labels 0-9; a near-duplicate is a slightly
  perturbed copy of an earlier vector.

The same seed and sizes give byte-identical files. Usage::

    python3 layerbench/datagen.py OUT_DIR --seed 7 --docs 400 --events 0
"""
from __future__ import annotations

import argparse
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
N_SOURCES = 20
DIM = 64
T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 24 * 3600 * 1_000_000


@dataclass(frozen=True)
class Sizes:
    """Table sizes and the input properties a workload varies on purpose.

    A table with zero rows is not written.
    """

    docs: int = 0
    words_min: int = 10
    words_max: int = 100
    dup_share: float = 0.05  # near-duplicate documents / all documents
    events: int = 0
    users: int = 150
    vectors: int = 0
    vec_dup_share: float = 0.05

    def as_dict(self) -> dict:
        return asdict(self)


def _documents(rng: np.random.Generator, s: Sizes) -> pa.Table:
    texts: list[str] = []
    vocab = np.array(VOCAB)
    # document lengths are a fixed spread over [words_min, words_max] and
    # the near-duplicate count is fixed; the seed only orders and fills
    # them, so every seed gives the engine about the same number of tokens
    lengths = rng.permutation(
        np.linspace(s.words_min, s.words_max, max(s.docs, 1)).round().astype(int))
    n_dups = min(round(s.dup_share * s.docs), max(s.docs - 10, 0))
    dups = set(rng.choice(np.arange(10, s.docs), size=n_dups, replace=False).tolist())
    for i in range(s.docs):
        if i in dups:
            # copy one of the three earlier documents closest to this slot's
            # length, so duplicates keep the token total near-constant
            near = np.argsort(np.abs(np.array([len(t.split()) for t in texts]) - lengths[i]),
                              kind="stable")[:3]
            texts.append(texts[int(rng.choice(near))] + " dup")
            continue
        idx = rng.integers(0, len(VOCAB), size=int(lengths[i]))
        texts.append(" ".join(vocab[idx].tolist()))
    langs = rng.choice(len(LANGS), size=s.docs, p=LANG_P)
    ids = np.arange(s.docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, s: Sizes) -> pa.Table:
    n = s.events
    ts = np.sort(rng.integers(0, SPAN_US, size=n)) + T0_US
    value = np.round(rng.exponential(50.0, size=n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s.users, size=n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[k] for k in rng.integers(0, 5, size=n)], pa.string()
            ),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                pa.string(),
            ),
        }
    )


def _embeddings(rng: np.random.Generator, s: Sizes) -> pa.Table:
    n = s.vectors
    vecs = rng.normal(size=(n, DIM))
    for i in range(10, n):
        if rng.random() < s.vec_dup_share:
            src = int(rng.integers(0, i))
            vecs[i] = vecs[src] + rng.normal(scale=0.01, size=DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write the non-empty tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table, so a table's bytes depend only on
    # the seed and its own sizes
    streams = np.random.SeedSequence(seed).spawn(3)
    plan = (
        ("documents", sizes.docs, _documents),
        ("events", sizes.events, _events),
        ("embeddings", sizes.vectors, _embeddings),
    )
    rows: dict[str, int] = {}
    for (name, n, make), ss in zip(plan, streams):
        if n <= 0:
            continue
        table = make(np.random.default_rng(ss), sizes)
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy"
        )
        rows[name] = table.num_rows
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    for field, default in Sizes().as_dict().items():
        ap.add_argument(f"--{field.replace('_', '-')}", type=type(default),
                        default=default)
    args = vars(ap.parse_args())
    out_dir, seed = args.pop("out_dir"), args.pop("seed")
    print(generate(out_dir, seed, Sizes(**args)))


if __name__ == "__main__":
    main()
