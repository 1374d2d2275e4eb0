"""Seeded input generation for the benchmark workloads.

The program only ever sees the parquet files written here. Every table
keeps the fixture's schema (parquet physical types) and value
domains (FIXTURES.md); only row counts, layout and the text vocabulary
change:

- ``fixture_tables``: all ten tables in the fixture's shape at a given
  scale factor.
- ``migrate_keyspace``: fixture tables re-keyed to unique keys,
  enlarged, shuffled and split into several part files per table (the
  directory-of-parts layout ``sources.load_table`` reads). The seed sets
  the row order and which rows land in which part.
- ``llm_documents``: a documents table over a vocabulary of more than
  1,000 words with a fixed share of near-duplicates, sized so its
  distinct word 3-shingles exceed the MinHash vocabulary budget.
- ``deal``: a table shuffled and split into part files, as the seed
  says.

Same arguments give byte-identical files: pyarrow writes no timestamps
or host data into the footer, and every random draw comes from a
``numpy.random.Generator`` seeded by the caller.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# Fixture row counts at sf0.1 (FIXTURES.md); other scales are linear.
SF01_ROWS = {"supplier": 1_000, "customer": 15_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000, "embeddings": 2_000}

# The fixture's 31-word "query-engine" vocabulary ("dup" marks its
# near-duplicate rows).
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()

EMBED_DIM = 64
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")  # en ~40% as in the fixture
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "hot", "new", "small", "large", "green", "old")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "nut", "gear", "pipe")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _days_ts(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _US_PER_DAY, _epoch_us(*hi) // _US_PER_DAY
    days = rng.integers(a, b + 1, n, dtype=np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()], pa.string())


def _docs_table(doc_ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, len(texts)),
        "source": pa.array([f"src{i % 20}" for i in doc_ids.tolist()], pa.string()),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _fixture_texts(rng: np.random.Generator, n: int) -> list[str]:
    words = np.asarray(FIXTURE_WORDS[:-1], dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # ~5% near-duplicates of an earlier row, marked with "dup" like the
    # fixture's
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return texts


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.reshape(-1), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32()), flat
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def fixture_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables in the fixture's shape at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in SF01_ROWS.items()}
    n["documents"] = max(500, n["documents"])
    n["embeddings"] = max(500, n["embeddings"])
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": _names("Customer", k),
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "c_acctbal": pa.array(_money(rng, len(k), -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(k)),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": _names("Supplier", k),
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)), pa.int32()),
        "s_acctbal": pa.array(_money(rng, len(k), -999.99, 9999.99)),
    })
    k = np.arange(n["part"])
    pnames = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": _pick(rng, pnames, len(k)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, len(k))], pa.string()),
        "p_type": _pick(rng, PART_TYPES, len(k)),
        "p_size": pa.array(rng.integers(1, 51, len(k)), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (k % 1000) / 10.0, 1)),
    })
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)), pa.int64()),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), len(k)),
        "o_totalprice": pa.array(_money(rng, len(k), 1000.0, 500000.0)),
        "o_orderdate": _days_ts(rng, len(k), (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(k)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, m, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), m),
        "l_linestatus": _pick(rng, ("F", "O"), m),
        "l_shipdate": _days_ts(rng, m, (1995, 1, 2), (2001, 11, 4)),
    })
    m = n["events"]
    span = (_epoch_us(2024, 1, 31) - _epoch_us(2024, 1, 1))
    ts = np.sort(rng.choice(span, m, replace=False)) + _epoch_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, int(1500 * sf / 0.1)), m), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, m),
        "value": pa.array(np.round(rng.exponential(60.0, m), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)], pa.string()),
    })
    out["documents"] = _docs_table(
        np.arange(n["documents"]), _fixture_texts(rng, n["documents"]), rng
    )
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


# Primary/foreign key columns shifted per copy when a table is enlarged.
_KEYS = {
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id",), "documents": ("doc_id",), "embeddings": ("vec_id",),
}


def enlarge(tbl: pa.Table, name: str, factor: int) -> pa.Table:
    """``factor`` copies of ``tbl`` with every key column shifted by a
    per-copy offset, so primary keys stay unique and joins stay within
    one copy."""
    keys = _KEYS.get(name, ())
    if factor <= 1 or not keys:
        return tbl
    span = max(int(pc.max(tbl[c]).as_py()) for c in keys) + 1
    copies = []
    for i in range(factor):
        t = tbl
        for c in keys:
            idx = t.schema.get_field_index(c)
            t = t.set_column(idx, c, pc.add(t[c], pa.scalar(i * span, t[c].type)))
        copies.append(t)
    return pa.concat_tables(copies)


def migrate_keyspace(base: dict[str, pa.Table], seed: int, factor: int,
                     parts: int) -> dict[str, list[pa.Table]]:
    """Enlarge each base table, shuffle its rows and deal them into
    ``parts`` part files (tables under 1,000 rows stay one part)."""
    rng = np.random.default_rng(seed)
    return {name: deal(enlarge(base[name], name, factor), rng, parts) for name in TABLES}


def deal(tbl: pa.Table, rng: np.random.Generator, parts: int) -> list[pa.Table]:
    """Shuffle the rows of ``tbl`` and deal them into ``parts`` part
    files (a table under 1,000 rows stays one part)."""
    tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
    n_parts = parts if tbl.num_rows >= 1000 else 1
    owner = rng.integers(0, n_parts, tbl.num_rows)
    return [tbl.filter(pa.array(owner == p)) for p in range(n_parts)]


def llm_vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words: the fixture's plus generated
    pronounceable ones."""
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    words = list(FIXTURE_WORDS[:-1])
    seen = set(words)
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(cons[int(rng.integers(0, 16))] + vow[int(rng.integers(0, 5))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def llm_documents(seed: int, n_docs: int, vocab_size: int,
                  neardup_share: float) -> pa.Table:
    """A documents table whose distinct 3-shingles scale with ``n_docs``
    (a Zipf-weighted vocabulary of ``vocab_size`` words keeps repeats
    rare). ``neardup_share`` of the rows copy an earlier row with one
    or two tokens replaced and "dup" appended."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(llm_vocabulary(rng, vocab_size), dtype=object)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 0.8
    weights /= weights.sum()
    lens = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.choice(vocab_size, int(k), p=weights)]) for k in lens]
    for i in np.flatnonzero(rng.random(n_docs) < neardup_share):
        if not i:
            continue
        toks = texts[int(rng.integers(0, i))].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, vocab_size))]
        texts[i] = " ".join(toks) + " dup"
    return _docs_table(np.arange(n_docs), texts, rng)


def distinct_shingles(texts, k: int = 3) -> int:
    """Distinct word k-shingles over documents with at least k tokens,
    as ``operators.dedup.shingles`` forms them."""
    seen = set()
    for t in texts:
        toks = t.split(" ")
        for i in range(len(toks) - k + 1):
            seen.add(" ".join(toks[i:i + k]))
    return len(seen)


def write_table(tbl: pa.Table, path: str) -> None:
    """One parquet file with a single row group."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows),
                   compression="snappy")


def write_parts(parts: list[pa.Table], path: str) -> None:
    """A directory of ``part-NNNNN.parquet`` files."""
    os.makedirs(path, exist_ok=True)
    for i, tbl in enumerate(parts):
        write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


def fingerprint(sf_dir: str) -> str:
    """sha256 over every parquet file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, sf_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
