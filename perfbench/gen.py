"""Seeded input generators: a bid/ask tick feed shaped like the reference's
1 Hz-per-pair websocket feed, and a document/embedding corpus for the dedup
operators.

The program only ever sees the parquet files written here, laid out like the
repo's ``sf`` directories (``events.parquet``, ``documents.parquet``,
``embeddings.parquet``), so every public query reads them unchanged. The same
seed and spec give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
PAIRS = 6  # tickify maps user_id % 6 onto the six dim_currency rows
BASE_PRICE = (150.0, 160.0, 190.0, 95.0, 110.0, 170.0)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


@dataclass(frozen=True)
class FeedSpec:
    """Tick-feed shape. Every pair ticks once per second while the feed is
    active; the rest are the properties the ingest path's behaviour depends
    on. A bursty feed (``burst_s``) keeps the 1 Hz density inside each burst
    while spanning enough hours for the hourly indicators and signals."""

    seconds: int  # feed length
    burst_s: int = 0  # when set, ticks only in the first burst_s of every hour
    dup_share: float = 0.05  # extra ticks landing in an already-ticked second
    hot_pair: int = 0  # USD/JPY ticks ``hot_rate`` times per second
    hot_rate: int = 3
    out_of_order_share: float = 0.03  # ticks that arrive 1-30 s late
    invalid_share: float = 0.01  # ticks tickify must reject
    start_us: int = EPOCH_US

    def describe(self) -> dict:
        return {"pairs": PAIRS, "rate_hz": 1, **asdict(self)}


@dataclass(frozen=True)
class CorpusSpec:
    """Corpus shape: exact duplicates, near-duplicate clusters, a wide
    length spread and near-duplicate embedding pairs."""

    docs: int
    exact_dup_share: float = 0.05
    near_dup_share: float = 0.15  # share of docs that join a near-dup cluster
    cluster_sizes: tuple[int, ...] = (2, 3, 5)
    words_median: int = 60  # log-normal length, sigma below
    words_sigma: float = 0.6
    vectors: int = 0  # defaults to docs
    dim: int = 64
    near_vec_share: float = 0.1  # share of vectors with a cosine>0.95 twin

    def describe(self) -> dict:
        return asdict(self)


VOCAB = (
    "the a data spark query table row column join filter group order sort "
    "merge hash scan window stream batch key value part line customer vector "
    "fast slow big small agg index price tick candle signal market trade bid "
    "ask spread pair yen dollar euro pound rate close open high low volume"
).split()
LANGS = ("en", "de", "fr", "es", "ja", "zh")


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def tick_rows(spec: FeedSpec, seed: int) -> pa.Table:
    """All ticks of the feed, in arrival order (``event_id`` order)."""
    rng = np.random.default_rng([seed, 1])
    offsets = np.arange(spec.seconds, dtype=np.int64)
    if spec.burst_s:
        offsets = offsets[offsets % 3600 < spec.burst_s]
    n_sec = len(offsets)
    sec = np.arange(n_sec, dtype=np.int64)
    pairs, secs = [], []
    for p in range(PAIRS):
        per_sec = spec.hot_rate if p == spec.hot_pair else 1
        pairs.append(np.full(n_sec * per_sec, p, dtype=np.int64))
        secs.append(np.repeat(sec, per_sec))
    n_dup = int(spec.dup_share * n_sec * PAIRS)
    pairs.append(rng.integers(0, PAIRS, n_dup))
    secs.append(rng.integers(0, n_sec, n_dup))
    pair = np.concatenate(pairs)
    s = np.concatenate(secs)
    n = len(pair)

    # per pair: a random walk plus a 16-hour cycle, so hourly SMA(14) and
    # SMA(28) cross (golden and dead crosses) within any two-day feed
    walk = np.cumsum(rng.normal(0.0, 0.005, (PAIRS, n_sec)), axis=1)
    phase = rng.uniform(0.0, 2 * np.pi, (PAIRS, 1))
    cycle = 4.0 * np.sin(2 * np.pi * offsets[None, :] / (16 * 3600) + phase)
    base = np.asarray(BASE_PRICE)[:, None]
    price = np.round(base + walk + cycle + rng.normal(0.0, 0.002, (PAIRS, n_sec)), 3)
    value = price[pair, s] + np.round(rng.normal(0.0, 0.002, n), 3)
    value = np.round(value, 3)
    ts = spec.start_us + offsets[s] * 1_000_000 + rng.integers(0, 1_000_000, n)
    k = rng.integers(0, 100, n)
    props = np.array([f'{{"k": {x}}}' for x in k], dtype=object)

    # invalid ticks, one of three reasons tickify rejects: non-positive bid,
    # a props payload without the spread key, a crossed market (ask < bid)
    bad = rng.random(n) < spec.invalid_share
    reason = rng.integers(0, 3, n)
    value = np.where(bad & (reason == 0), -value, value)
    props = np.where(bad & (reason == 1), '{"q": 1}', props)
    crossed = np.array([f'{{"k": {-10 * x - 5}}}' for x in k], dtype=object)  # ask < bid
    props = np.where(bad & (reason == 2), crossed, props)

    # arrival order: a share of ticks arrives late, the rest in event time
    late = rng.random(n) < spec.out_of_order_share
    arrival = ts + np.where(late, rng.integers(1, 31, n) * 1_000_000, 0)
    order = np.lexsort((np.arange(n), arrival))
    user = pair + PAIRS * rng.integers(0, 1000, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts[order], pa.timestamp("us")),
            "user_id": user[order],
            "event_type": np.full(n, "tick", dtype=object),
            "value": value[order],
            "props": props[order],
        },
        schema=EVENTS_SCHEMA,
    )


def write_feed(table: pa.Table, sf_dir: str) -> int:
    _write(table, os.path.join(sf_dir, "events.parquet"))
    return table.num_rows


def split_by_time(table: pa.Table, start_us: int, bounds_s: list[int]) -> list[pa.Table]:
    """Cut a feed at event-time second offsets ``bounds_s``: slice i holds the
    ticks with ``bounds_s[i] <= ts - start < bounds_s[i + 1]``. Cutting on
    event time (not arrival) keeps every minute inside one slice, so an
    incrementally built warehouse must equal a full recompute."""
    off = (table.column("ts").cast(pa.int64()).to_numpy() - start_us) // 1_000_000
    out = []
    for lo, hi in zip(bounds_s, bounds_s[1:]):
        idx = np.nonzero((off >= lo) & (off < hi))[0]
        out.append(table.take(pa.array(idx)))
    return out


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _mutate(rng: np.random.Generator, text: str, share: float) -> str:
    words = text.split()
    for i in np.nonzero(rng.random(len(words)) < share)[0]:
        words[i] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(words)


def _n_words(rng: np.random.Generator, spec: CorpusSpec, floor: int) -> int:
    return max(floor, int(rng.lognormal(np.log(spec.words_median), spec.words_sigma)))


def corpus_tables(spec: CorpusSpec, seed: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    while len(texts) < spec.docs:
        r = rng.random()
        if texts and r < spec.exact_dup_share:
            texts.append(texts[rng.integers(0, len(texts))])
        elif r < spec.exact_dup_share + spec.near_dup_share:
            size = int(rng.choice(spec.cluster_sizes))
            root = _text(rng, _n_words(rng, spec, 8))
            texts.append(root)
            for _ in range(size - 1):
                texts.append(_mutate(rng, root, 0.03))
        else:
            texts.append(_text(rng, _n_words(rng, spec, 3)))
    texts = texts[: spec.docs]
    docs = pa.table(
        {
            "doc_id": np.arange(spec.docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), spec.docs)],
            "source": [f"src{i}" for i in rng.integers(0, 4, spec.docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )

    n_vec = spec.vectors or spec.docs
    vecs = rng.normal(0.0, 1.0, (n_vec, spec.dim))
    twins = np.nonzero(rng.random(n_vec) < spec.near_vec_share)[0]
    for i in twins[twins > 0]:
        j = rng.integers(0, i)
        vecs[i] = vecs[j] + rng.normal(0.0, 0.05, spec.dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        },
        schema=EMB_SCHEMA,
    )
    return docs, emb


def write_corpus(spec: CorpusSpec, seed: int, sf_dir: str) -> int:
    docs, emb = corpus_tables(spec, seed)
    _write(docs, os.path.join(sf_dir, "documents.parquet"))
    _write(emb, os.path.join(sf_dir, "embeddings.parquet"))
    return docs.num_rows

