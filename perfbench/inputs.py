"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed``; the input sizes are the
module constants below, each with one value, so ``BENCHMARK.json``
describes exactly what is generated. The same seed writes byte-identical files, another seed writes other
data (``check_inputs.py`` asserts both). The program under test only
ever sees the files written here.

- ``write_events``: the fixture ``events`` schema (event_id, ts,
  user_id, event_type, value, props) as a tick stream — a fixed number
  of ticks per instrument per calendar day, time-ordered.
- ``write_reference_tables``: the reference's three wide inputs
  (``train``, ``train_labels``, ``target_pairs``) in their shapes,
  with label nulls concentrated on a subset of days so the any-null
  row drop keeps ~58% of the rows, as in the reference (1961 -> 1133).
- ``write_corpus``: ``documents`` + ``embeddings`` with planted exact
  duplicates, character-edited near duplicates, PII strings,
  low-quality documents and embedding near-duplicate clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_DAY_US = 86_400 * 1_000_000
_EPOCH_2020_US = 1_577_836_800 * 1_000_000  # 2020-01-01T00:00:00


#: spread_prep: instruments x calendar days x ticks per instrument-day
N_INSTRUMENTS, N_DAYS, TICKS_PER_DAY = 400, 375, 4
#: signal_serving: trading days x targets of the reference tables
REF_DAYS, REF_TARGETS = 300, 40
#: curation: documents, embedding width, pseudo-word vocabulary size
N_DOCS, EMBED_DIM, N_WORDS = 400, 64, 20000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """One independent stream per generator, so sizes of one input
    never shift the values of another."""
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


# --- spread_prep -----------------------------------------------------------


def write_events(out_dir: str, seed: int) -> int:
    """Write ``events.parquet``; returns its row count.

    Prices are 2-dp ticks around a per-instrument random walk. The tick
    count per (instrument, day) is fixed, so daily means of 2-dp values
    never sit on a 6-dp rounding midpoint (a mean over 32 ticks could)."""
    rng = _rng(seed, 1)
    n_instruments, n_days, ticks_per_day = N_INSTRUMENTS, N_DAYS, TICKS_PER_DAY
    n = n_instruments * n_days * ticks_per_day
    base = rng.uniform(10.0, 500.0, size=n_instruments)
    walk = np.cumsum(rng.normal(0.0, 0.02, size=(n_instruments, n_days)), axis=1)
    mid = base[:, None] * np.exp(walk)  # (instrument, day)
    instr = np.repeat(np.arange(n_instruments, dtype=np.int64), n_days * ticks_per_day)
    day = np.tile(np.repeat(np.arange(n_days, dtype=np.int64), ticks_per_day), n_instruments)
    px = mid[instr, day] * (1.0 + rng.normal(0.0, 0.002, size=n))
    value = np.maximum(np.round(px, 2), 0.01)
    ts = _EPOCH_2020_US + day * _DAY_US + rng.integers(0, _DAY_US, size=n)
    order = np.argsort(ts, kind="stable")
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(instr[order]),
            "event_type": pa.array(
                np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, size=n)][order],
                type=pa.string(),
            ),
            "value": pa.array(value[order]),
            "props": pa.array(props[rng.integers(0, 100, size=n)][order], type=pa.string()),
        }
    )
    _write(table, os.path.join(out_dir, "events.parquet"))
    return n


# --- signal_serving --------------------------------------------------------

def write_reference_tables(out_dir: str, seed: int) -> None:
    """Write ``train``, ``train_labels`` and ``target_pairs`` parquet
    files in the reference's wide shapes (FIXTURES.md §1-§3), over the
    fixtures' market columns; the first three are late-listed (~87%
    null at the head)."""
    from commodity_price_forecasting_spark.sources.fixtures import MARKETS

    rng = _rng(seed, 2)
    n_days, n_targets = REF_DAYS, REF_TARGETS
    n_cols = len(MARKETS)
    base = rng.uniform(10.0, 500.0, size=n_cols)
    prices = base * np.exp(np.cumsum(rng.normal(0.0, 0.02, size=(n_days, n_cols)), axis=0))
    mask = np.zeros((n_days, n_cols), dtype=bool)
    mask[: int(n_days * 0.87), :3] = True
    for j in range(3, n_cols):
        idx = rng.choice(n_days, size=int(n_days * rng.uniform(0.02, 0.10)), replace=False)
        mask[idx, j] = True
    date_id = pa.array(np.arange(n_days, dtype=np.int32))
    train = {"date_id": date_id}
    for j, c in enumerate(MARKETS):
        train[c] = pa.array(prices[:, j], mask=mask[:, j])
    _write(pa.table(train), os.path.join(out_dir, "train.parquet"))

    # labels: ~42% of days carry nulls (each target null w.p. 1/4 on
    # such a day), so per-target null rates land near 10% and the
    # any-null row drop keeps ~58% of the days
    scale = rng.uniform(0.01, 0.05, size=n_targets)
    labels = rng.normal(0.0, 1.0, size=(n_days, n_targets)) * scale
    null_days = rng.choice(n_days, size=int(n_days * 0.42), replace=False)
    lmask = np.zeros((n_days, n_targets), dtype=bool)
    lmask[null_days] = rng.random((len(null_days), n_targets)) < 0.25
    lmask[null_days, rng.integers(0, n_targets, size=len(null_days))] = True
    tl = {"date_id": date_id}
    for j in range(n_targets):
        tl[f"target_{j}"] = pa.array(labels[:, j], mask=lmask[:, j])
    _write(pa.table(tl), os.path.join(out_dir, "train_labels.parquet"))

    # distinct legs and distinct pairs, so every merged column name is unique
    dense = MARKETS[3:]
    all_pairs = [(a, b) for a in range(len(dense)) for b in range(len(dense)) if a != b]
    picks = rng.choice(len(all_pairs), size=n_targets - 4, replace=False)
    pairs = list(dense[:4]) + [f"{dense[all_pairs[i][0]]} - {dense[all_pairs[i][1]]}" for i in picks]
    lags = [j % 4 + 1 for j in range(n_targets)]
    tp = pa.table(
        {
            "target": pa.array([f"target_{j}" for j in range(n_targets)]),
            "lag": pa.array(lags, type=pa.int32()),
            "pair": pa.array(pairs),
        }
    )
    _write(tp, os.path.join(out_dir, "target_pairs.parquet"))


def new_day_row(rng: np.random.Generator, last: dict, feature_cols, target_cols) -> dict:
    """One appended trading day for a refit: features move by a small
    relative step from the latest day, targets are fresh draws."""
    row = {"date_id": int(last["date_id"]) + 1}
    for c in feature_cols:
        row[c] = float(last[c]) * float(1.0 + rng.normal(0.0, 0.01))
    for c in target_cols:
        row[c] = float(rng.normal(0.0, 0.03))
    return row


# --- curation --------------------------------------------------------------

_STOP = ("the", "a", "of", "and", "in")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """Random 3-9 letter pseudo-words: a vocabulary large enough that
    two unrelated documents share few 5-character shingles."""
    lengths = rng.integers(3, 10, size=N_WORDS)
    return ["".join(rng.choice(_LETTERS, int(k))) for k in lengths]


def _good_text(rng: np.random.Generator, vocab: list[str]) -> str:
    """40-90 tokens, ~10% stopwords, words drawn uniformly: quality > 0.7."""
    n = int(rng.integers(40, 90))
    ranks = rng.integers(0, len(vocab), size=n)
    stop = rng.random(n) < 0.1
    return " ".join(
        _STOP[rng.integers(0, 5)] if s else vocab[r] for r, s in zip(ranks, stop)
    )


def _low_quality_text(rng: np.random.Generator, vocab: list[str]) -> str:
    """A short, repetitive fragment: quality well below the 0.7 gate."""
    w = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join([w] * int(rng.integers(3, 9)))


def _pii(rng: np.random.Generator, kind: int) -> str:
    """An email, SSN-shaped id, IPv4 address or phone number. None is
    16-digit or IBAN-shaped, so the checksum-gated classes never fire."""
    if kind == 0:
        return f"{''.join(rng.choice(_LETTERS, 6))}@{''.join(rng.choice(_LETTERS, 5))}.com"
    if kind == 1:
        return f"{rng.integers(100, 999)}-{rng.integers(10, 99)}-{rng.integers(1000, 9999)}"
    if kind == 2:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))
    return f"+1 {rng.integers(200, 999)} {rng.integers(100, 999)} {rng.integers(1000, 9999)}"


def _render(rng: np.random.Generator, text: str, pii: tuple[int, int] | None) -> str:
    """``text`` with a fresh PII string of kind ``pii[1]`` inserted
    before token ``pii[0]``."""
    if pii is None:
        return text
    toks = text.split(" ")
    toks.insert(pii[0], _pii(rng, pii[1]))
    return " ".join(toks)


def _char_edits(rng: np.random.Generator, text: str, n_edits: int) -> str:
    """Substitute ``n_edits`` letters (spaces kept, so token counts and
    the quality score barely move)."""
    chars = list(text)
    letters = [i for i, ch in enumerate(chars) if ch != " "]
    for i in rng.choice(letters, size=min(n_edits, len(letters)), replace=False):
        chars[i] = str(rng.choice(_LETTERS))
    return "".join(chars)


def write_corpus(out_dir: str, seed: int) -> None:
    """Write ``documents.parquet`` + ``embeddings.parquet``. Layout of the ``N_DOCS`` ids (shuffled): 74% unique
    good docs (10% carry a PII string), 10% exact copies and 10% near
    copies (4 letter edits) of distinct unique docs, 6% low-quality
    fragments. A copy of a PII-carrying doc carries another PII string
    of the same kind at the same place: different bytes, identical after
    redaction. Every duplicate group is one base + one copy, so the
    work per run does not depend on the seed's group sizes.
    Embeddings: each unique doc gets a cluster-centred unit vector;
    copies get the base vector plus small noise, so they form embedding
    near-duplicate clusters."""
    rng = _rng(seed, 3)
    n_docs, dim = N_DOCS, EMBED_DIM
    vocab = _vocabulary(rng)
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_low = n_docs * 6 // 100
    n_base = n_docs - n_exact - n_near - n_low
    plain, pii_at, texts, base_of, kinds = [], [], [], [], []
    for i in range(n_base):
        t = _good_text(rng, vocab)
        pii = None
        if rng.random() < 0.1:
            pii = (int(rng.integers(0, t.count(" ") + 1)), int(rng.integers(0, 4)))
        plain.append(t)
        pii_at.append(pii)
        texts.append(_render(rng, t, pii))
        base_of.append(i)
        kinds.append("base")
    copied = rng.permutation(n_base)[: n_exact + n_near]
    for b in copied[:n_exact]:
        texts.append(_render(rng, plain[b], pii_at[b]))
        base_of.append(int(b))
        kinds.append("exact")
    for b in copied[n_exact:]:
        texts.append(_char_edits(rng, plain[b], 4))
        base_of.append(int(b))
        kinds.append("near")
    for _ in range(n_low):
        texts.append(_low_quality_text(rng, vocab))
        base_of.append(-1)
        kinds.append("low")

    perm = rng.permutation(n_docs)  # doc_id of the k-th generated doc
    n_clusters = 64
    centers = rng.normal(0.0, 1.0, size=(n_clusters, dim))
    base_vec = centers[rng.integers(0, n_clusters, size=n_base)] * 0.35 + rng.normal(
        0.0, 1.0, size=(n_base, dim)
    )
    vecs = np.empty((n_docs, dim))
    labels = np.empty(n_docs, dtype=np.int32)
    for k, b in enumerate(base_of):
        if b < 0:
            vecs[k] = rng.normal(0.0, 1.0, size=dim)
            labels[k] = -1
        else:
            vecs[k] = base_vec[b] + (rng.normal(0.0, 0.05, size=dim) if kinds[k] != "base" else 0.0)
            labels[k] = b % n_clusters
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    order = np.argsort(perm)  # rows sorted by doc_id
    doc_ids = perm[order].astype(np.int64)
    text_arr = [texts[k] for k in order]
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, size=n_docs)]
    docs = pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "text": pa.array(text_arr, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in text_arr], dtype=np.int64)),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    flat = pa.array(vecs[order].astype(np.float32).ravel())
    embs = pa.table(
        {
            "vec_id": pa.array(doc_ids),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
            "label": pa.array(labels[order]),
        }
    )
    _write(embs, os.path.join(out_dir, "embeddings.parquet"))
