"""Seeded input generator for the benchmark.

Every artifact is a pure function of ``(seed, artifact)``: each one draws
from its own ``numpy`` generator seeded with ``[seed, stream_id]``, so
generating a subset produces the same bytes as generating everything, and
the same seed always produces byte-identical files (pinned by
``graftbench/tests/test_bench.py``).

The tables follow the schema of the engine's synthetic star schema
(``region nation customer supplier part orders lineitem events documents
embeddings``). Volumes are fixed per workload, never per seed, so two
seeds differ in content but not in size (``lineitem``'s row count moves
by well under 1%), and the vocabulary is the same for every seed. Skew is
deliberate:

- ``lineitem``: one hot supplier (``l_suppkey = 1``) takes ~10% of rows;
- ``events``: one hot user (``user_id = 1``) takes ~10% of rows;
- ``documents``: Zipf-distributed tokens over a generated vocabulary,
  grouped in near-duplicate cliques (an exact copy plus tail-edited
  copies of each base document), so exact and near-dup removal have
  real work;
- ``embeddings``: clustered unit vectors, so an IVF index has cells.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Stream ids: one independent generator per artifact family.
_S_VOCAB, _S_DIMS, _S_ORDERS, _S_EVENTS, _S_DOCS, _S_EMB = range(6)
_S_SHARD, _S_STREAM, _S_KEYS = 100, 10_000, 20_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "a"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "y", "una"],
    "de": ["der", "die", "das", "und", "ein"],
    "zh": ["数据", "查询", "索引"],
}
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]
_SYLLABLES = [
    c + v
    for c in "bcdfghjklmnprstvwz"
    for v in ("a", "e", "i", "o", "u", "ai", "ou")
]
_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024_US = 19_723 * _US_PER_DAY  # 2024-01-01 in microseconds

# Volumes (rows). Fixed so every seed measures the same amount of work.
BASE_ORDERS = 30_000  # lineitem ~ 4x orders
BASE_CUSTOMERS = 3_000
BASE_SUPPLIERS = 1_000
BASE_PARTS = 6_000
BASE_EVENTS = 30_000
BASE_USERS = 500
BASE_DOCS = 2_000
BASE_VECTORS = 2_000
VECTOR_DIM = 64
VECTOR_CLUSTERS = 10
VOCAB_SIZE = 4_000
HOT_SHARE = 0.10


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Values with exactly two decimals (the oracle sums them as DECIMAL)."""
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _ts_us(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype(np.int64), type=pa.timestamp("us"))


def vocabulary() -> list[str]:
    """``VOCAB_SIZE`` distinct lowercase words, most frequent first. The
    same for every seed: word lengths set the bytes per token, and with
    them the size of every text job's input and output, which should not
    vary from seed to seed."""
    rng = _rng(0, _S_VOCAB)
    words: list[str] = []
    seen = set(STOPWORDS)
    for m in LANG_MARKERS.values():
        seen.update(m)
    while len(words) < VOCAB_SIZE:
        n_syl = int(rng.integers(2, 4))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n_syl))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def write_dimensions(seed: int, out: str) -> None:
    rng = _rng(seed, _S_DIMS)
    _write(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        f"{out}/region.parquet",
    )
    _write(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        f"{out}/nation.parquet",
    )
    n = BASE_CUSTOMERS
    _write(
        pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }),
        f"{out}/customer.parquet",
    )
    n = BASE_SUPPLIERS
    _write(
        pa.table({
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }),
        f"{out}/supplier.parquet",
    )
    n = BASE_PARTS
    adj = ["small", "red", "big", "blue", "green", "steel", "smooth", "tiny"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "valve", "spring"]
    _write(
        pa.table({
            "p_partkey": pa.array(np.arange(n), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, len(adj), n),
                                rng.integers(0, len(noun), n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[t] for t in rng.integers(0, len(PART_TYPES), n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 2000) / 10.0, 2),
        }),
        f"{out}/part.parquet",
    )


def write_orders_lineitem(seed: int, out: str) -> None:
    rng = _rng(seed, _S_ORDERS)
    n = BASE_ORDERS
    odays = rng.integers(0, 6 * 365, n)  # 1995-01-01 .. ~2000-12
    _write(
        pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, BASE_CUSTOMERS, n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts_us((_EPOCH_1995 + odays) * _US_PER_DAY),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }),
        f"{out}/orders.parquet",
    )
    lines = rng.integers(1, 8, n)  # 1..7 lines per order
    okey = np.repeat(np.arange(n), lines)
    m = len(okey)
    linenumber = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, m).astype(np.float64)
    suppkey = rng.integers(0, BASE_SUPPLIERS, m)
    suppkey[rng.random(m) < HOT_SHARE] = 1
    ship = (_EPOCH_1995 + np.repeat(odays, lines) + rng.integers(1, 122, m))
    flags = rng.integers(0, 6, m)
    _write(
        pa.table({
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, BASE_PARTS, m), pa.int64()),
            "l_suppkey": pa.array(suppkey, pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
            "l_returnflag": [("A", "N", "R")[f % 3] for f in flags],
            "l_linestatus": [("F", "O")[f // 3] for f in flags],
            "l_shipdate": _ts_us(ship * _US_PER_DAY),
        }),
        f"{out}/lineitem.parquet",
    )


def write_events(seed: int, out: str) -> None:
    rng = _rng(seed, _S_EVENTS)
    n = BASE_EVENTS
    gaps = rng.integers(1, 2 * 30 * _US_PER_DAY // n, n)
    users = rng.integers(0, BASE_USERS, n)
    users[rng.random(n) < HOT_SHARE] = 1
    _write(
        pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts_us(_EPOCH_2024_US + np.cumsum(gaps)),
            "user_id": pa.array(users, pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": _money(rng, 0.0, 100.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }),
        f"{out}/events.parquet",
    )


def make_documents(
    seed: int, stream: int, n_docs: int, first_id: int = 0
) -> pa.Table:
    """``n_docs`` documents in near-duplicate cliques.

    Each base document is followed by 0-3 copies: an exact duplicate or a
    copy whose last tokens are replaced (Jaccard stays high, so near-dup
    removal drops it). Rows are in ``doc_id`` order."""
    rng = _rng(seed, stream)
    vocab = vocabulary()
    weights = zipf_weights(len(vocab))
    texts: list[str] = []
    langs: list[str] = []
    while len(texts) < n_docs:
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        n_tok = int(rng.integers(25, 90))
        toks = [vocab[i] for i in rng.choice(len(vocab), n_tok, p=weights)]
        markers = LANG_MARKERS[lang]
        for pos in rng.integers(0, n_tok, max(2, n_tok // 6)):
            toks[pos] = markers[int(rng.integers(0, len(markers)))]
        for pos in rng.integers(0, n_tok, 2):
            toks[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
        if rng.random() < 0.3:
            toks[int(rng.integers(0, n_tok))] += ","
        if rng.random() < 0.2:
            toks.append(str(int(rng.integers(0, 2000))))
        base = " ".join(toks)
        texts.append(base)
        langs.append(lang)
        for _ in range(int(rng.choice(4, p=[0.55, 0.2, 0.15, 0.1]))):
            if rng.random() < 0.4:
                texts.append(base)
            else:
                tail = [vocab[i] for i in rng.integers(0, len(vocab), 2)]
                texts.append(" ".join(toks[:-2] + tail))
            langs.append(lang)
    texts, langs = texts[:n_docs], langs[:n_docs]
    ids = np.arange(first_id, first_id + n_docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_embeddings(seed: int, out: str) -> None:
    rng = _rng(seed, _S_EMB)
    centers = rng.normal(size=(VECTOR_CLUSTERS, VECTOR_DIM))
    label = rng.integers(0, VECTOR_CLUSTERS, BASE_VECTORS)
    vec = centers[label] + 0.6 * rng.normal(size=(BASE_VECTORS, VECTOR_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(
        pa.table({
            "vec_id": pa.array(np.arange(BASE_VECTORS), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }),
        f"{out}/embeddings.parquet",
    )


def write_base(seed: int, out: str) -> None:
    """All ten tables of the shared dataset under ``out``."""
    write_dimensions(seed, out)
    write_orders_lineitem(seed, out)
    write_events(seed, out)
    _write(make_documents(seed, _S_DOCS, BASE_DOCS), f"{out}/documents.parquet")
    write_embeddings(seed, out)


def write_corpus_shard(seed: int, shard: int, n_docs: int, out: str,
                       n_text_files: int) -> int:
    """One fresh corpus shard under ``out``: ``documents.parquet`` (the
    ``documents`` table) and ``text/``, the same documents as
    ``n_text_files`` raw-text files, one document per line (the
    ``launch_map_reduce`` input). Returns the number of text lines."""
    docs = make_documents(seed, _S_SHARD + shard, n_docs,
                          first_id=shard * 1_000_000)
    _write(docs, f"{out}/documents.parquet")
    texts = docs.column("text").to_pylist()
    os.makedirs(f"{out}/text", exist_ok=True)
    per = -(-len(texts) // n_text_files)
    for f in range(n_text_files):
        with open(f"{out}/text/doc{f:03d}.txt", "w", encoding="utf-8") as fh:
            fh.write("\n".join(texts[f * per:(f + 1) * per]) + "\n")
    return len(texts)


def write_stream_backlog(seed: int, n_files: int, docs_per_file: int,
                         out: str) -> None:
    """A streaming backlog: ``out/backlog/`` holds ``n_files`` id-ordered
    ``(doc_id, text, lang)`` slices; ``out/documents.parquet`` holds the
    same documents as one table (the batch parity input)."""
    docs = make_documents(seed, _S_STREAM, n_files * docs_per_file,
                          first_id=10**9)
    _write(docs, f"{out}/documents.parquet")
    files = docs.select(["doc_id", "text", "lang"])
    # The file source admits files in modification-time order, and batch
    # parity holds only for id-ordered arrival: files written within one
    # clock tick would tie, so space their mtimes a second apart.
    t0 = int(time.time()) - n_files
    for f in range(n_files):
        path = f"{out}/backlog/f{f:03d}.parquet"
        _write(files.slice(f * docs_per_file, docs_per_file), path)
        os.utime(path, (t0 + f, t0 + f))


def request_mix(seed: int, n_blocks: int, vocab_words: list[str],
                n_vectors: int, block: int = 5) -> list[list[tuple]]:
    """``n_blocks`` blocks of ``block`` serving requests. Each block holds
    one ``("search", vec_index)`` request, the query vector drawn
    uniformly, at a random position, and ``("lookup", word)`` requests
    with words drawn Zipf-distributed from ``vocab_words`` (most frequent
    first). Any run of whole blocks is exactly 1/``block`` semantic."""
    rng = _rng(seed, _S_KEYS)
    weights = zipf_weights(len(vocab_words))
    words = rng.choice(len(vocab_words), (n_blocks, block - 1), p=weights)
    vecs = rng.integers(0, n_vectors, n_blocks)
    where = rng.integers(0, block, n_blocks)
    out = []
    for b in range(n_blocks):
        reqs = [("lookup", vocab_words[w]) for w in words[b]]
        reqs.insert(int(where[b]), ("search", int(vecs[b])))
        out.append(reqs)
    return out
