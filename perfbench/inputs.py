"""Seeded inputs and the oracle that checks every op.

The same seed gives the same tables and the same op lists. The lake table
is TPC-H-``lineitem``-shaped; the corpus mimics the repo's ``documents``
table with planted exact and near duplicates, repetitive spam and PII.
The oracle holds the source rows in pyarrow/numpy and precomputes each
op's expected row count plus an order-insensitive checksum over the
integral and float columns (dates and strings are left out).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

KEY = "l_orderkey"
INDEXED = ("l_shipdate", "l_partkey")
LOOKUP_COLUMNS = ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
EPOCH = dt.date(1970, 1, 1)
FIRST_DAY = (dt.date(1995, 1, 1) - EPOCH).days
N_DAYS = 2500


@dataclass(frozen=True)
class Scale:
    """Input sizes. ``FULL`` is what the benchmark runs; ``TINY`` (about
    TPC-H sf0.001) serves the self-tests."""

    lake_rows: int
    lake_files: int
    corpus_docs: int
    corpus_sources: int


#: The lake's file count is set by the run budget: the clustered write is
#: most of a point_lookup run's set-up (13-15 s for 160 files on 4 cores,
#: 15-21 s for 250). The corpus is small because a cleaning pass is mostly
#: fixed cost; see ``workloads.CorpusClean``.
FULL = Scale(lake_rows=150_000, lake_files=160, corpus_docs=4_000,
             corpus_sources=20)
TINY = Scale(lake_rows=6_000, lake_files=8, corpus_docs=400,
             corpus_sources=4)


# ---------------------------------------------------------------- checksum

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _mix(x: np.ndarray) -> np.ndarray:
    x = x ^ (x >> np.uint64(30))
    x = x * _M1
    x = x ^ (x >> np.uint64(27))
    x = x * _M2
    return x ^ (x >> np.uint64(31))


def numeric_columns(schema: pa.Schema) -> list[str]:
    """Integral and float columns, by name (column order does not matter)."""
    return sorted(
        f.name for f in schema
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type)
    )


def row_hashes(table: pa.Table, columns: list[str]) -> np.ndarray:
    """One 64-bit hash per row over ``columns``; integers are compared by
    value (int32 and int64 agree), floats by their float64 bits."""
    h = np.full(table.num_rows, _GOLDEN, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, name in enumerate(sorted(columns)):
            col = table.column(name).to_numpy(zero_copy_only=False)
            if np.issubdtype(col.dtype, np.floating):
                bits = col.astype(np.float64).view(np.uint64)
            else:
                bits = col.astype(np.int64).view(np.uint64)
            h = _mix(h ^ _mix(bits + np.uint64(i + 1) * _GOLDEN))
    return h


def checksum(table: pa.Table) -> tuple[int, int]:
    """``(rows, order-insensitive checksum)`` of a result table."""
    cols = numeric_columns(table.schema)
    return table.num_rows, int(row_hashes(table, cols).sum(dtype=np.uint64))


# ---------------------------------------------------------------- lineitem


def make_lineitem(seed: int, n_rows: int) -> tuple[pa.Table, np.ndarray]:
    """A lineitem-shaped table in shuffled row order, plus the key domain's
    absent keys (holes between present keys, about 10% of the domain)."""
    rng = np.random.default_rng([seed, 1])
    n_keys = max(n_rows // 4, 2)
    domain = int(n_keys / 0.9) + 1
    present = np.sort(rng.choice(domain, size=n_keys, replace=False))
    absent = np.setdiff1d(np.arange(domain), present)
    keys = np.concatenate([present, present[rng.integers(0, n_keys, n_rows - n_keys)]])
    keys = keys[rng.permutation(n_rows)]
    days = FIRST_DAY + rng.integers(0, N_DAYS, n_rows)
    table = pa.table({
        "l_orderkey": keys.astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n_rows).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n_rows).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_rows), 2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_rows)]),
        "l_shipdate": pa.array(days.astype(np.int32), pa.int32()).cast(pa.date32()),
    })
    return table, absent


def day(d: int) -> dt.date:
    return EPOCH + dt.timedelta(days=int(d))


class LineitemOracle:
    """Expected results for lookups and range aggregates over a set of
    source rows."""

    def __init__(self, table: pa.Table) -> None:
        keys = table.column(KEY).to_numpy()
        order = np.argsort(keys, kind="stable")
        self.table = table.take(pa.array(order))
        self.keys = keys[order]
        self.days = (
            self.table.column("l_shipdate").cast(pa.int32()).to_numpy()
        )
        self._hashes: dict[tuple[str, ...], np.ndarray] = {}

    def present_keys(self) -> np.ndarray:
        return np.unique(self.keys)

    def _row_hashes(self, columns: tuple[str, ...]) -> np.ndarray:
        if columns not in self._hashes:
            sub = self.table.select(list(columns))
            self._hashes[columns] = row_hashes(sub, numeric_columns(sub.schema))
        return self._hashes[columns]

    def rows(self, keys) -> np.ndarray:
        """Indices of the rows whose key is in ``keys``."""
        uk = np.unique(np.asarray(keys, dtype=np.int64))
        lo = np.searchsorted(self.keys, uk, "left")
        hi = np.searchsorted(self.keys, uk, "right")
        if not len(uk) or not (hi - lo).any():
            return np.empty(0, dtype=np.int64)
        return np.concatenate([np.arange(a, b) for a, b in zip(lo, hi) if b > a])

    def expect(self, keys, min_day: int | None, columns: tuple[str, ...]) -> tuple[int, int]:
        idx = self.rows(keys)
        if min_day is not None:
            idx = idx[self.days[idx] >= min_day]
        h = self._row_hashes(columns)[idx]
        return len(idx), int(h.sum(dtype=np.uint64))

    def expect_agg(self, lo: int, hi: int) -> tuple[int, dt.date | None, dt.date | None]:
        """COUNT(*), MIN and MAX(l_shipdate) over the rows whose key is in
        ``[lo, hi)``."""
        a, b = np.searchsorted(self.keys, [lo, hi], "left")
        if a == b:
            return 0, None, None
        d = self.days[a:b]
        return int(b - a), day(d.min()), day(d.max())


# ---------------------------------------------------------------- op lists


@dataclass
class Op:
    """One benchmark operation and its expected outcome."""

    kind: str  # "lookup" | "agg"
    keys: list[int] = field(default_factory=list)
    min_day: int | None = None
    columns: tuple[str, ...] | None = None
    lo: int = 0
    hi: int = 0
    expected: tuple = ()

    def clauses(self) -> list[tuple]:
        if self.kind == "agg":
            return [(KEY, ">=", self.lo), (KEY, "<", self.hi)]
        if self.min_day is None:
            return []
        return [("l_shipdate", ">=", day(self.min_day))]


def _draw_zipf(rng, keys: np.ndarray, n: int, a: float = 1.1) -> np.ndarray:
    ranks = (rng.zipf(a, n) - 1) % len(keys)
    return keys[ranks]


def lookup_op(rng, oracle: LineitemOracle, hot: np.ndarray, absent: np.ndarray) -> Op:
    """IN-list of 1-8 keys, Zipf-skewed over ``hot`` with about 10% absent
    keys, a ``l_shipdate >=`` clause on half the ops, 4-column projection."""
    n = int(rng.integers(1, 9))
    keys = _draw_zipf(rng, hot, n)
    miss = rng.random(n) < 0.1
    keys = np.where(miss, absent[rng.integers(0, len(absent), n)], keys)
    min_day = FIRST_DAY + int(rng.integers(0, N_DAYS)) if rng.random() < 0.5 else None
    keys = [int(k) for k in keys]
    return Op("lookup", keys=keys, min_day=min_day, columns=LOOKUP_COLUMNS,
              expected=oracle.expect(keys, min_day, LOOKUP_COLUMNS))


def agg_op(rng, oracle: LineitemOracle, domain: int) -> Op:
    """COUNT plus MIN/MAX(l_shipdate) over a key range of 0.2-2% of the
    key domain: a few files, whose interior the metastore answers alone."""
    width = max(2, int(domain * rng.uniform(0.002, 0.02)))
    lo = int(rng.integers(0, max(1, domain - width)))
    return Op("agg", lo=lo, hi=lo + width, expected=oracle.expect_agg(lo, lo + width))


#: One op in this many is a range aggregate; the rest are lookups.
AGG_EVERY = 16


def point_ops(seed: int, oracle: LineitemOracle, absent: np.ndarray, domain: int,
              n: int) -> list[Op]:
    rng = np.random.default_rng([seed, 2])
    hot = oracle.present_keys()[rng.permutation(len(oracle.present_keys()))]
    return [agg_op(rng, oracle, domain) if i % AGG_EVERY == AGG_EVERY - 1
            else lookup_op(rng, oracle, hot, absent) for i in range(n)]


# ------------------------------------------------------------------ corpus

_VOCAB = (
    "spark scan sort hash join key value row column table stream batch "
    "window group filter query data order part line merge agg vector index "
    "file fast slow big small customer the a and of el la de der die und le et"
).split()


def make_corpus(seed: int, n_docs: int, n_sources: int) -> pa.Table:
    """Documents with about 4% exact copies, 6% one-word edits of an
    earlier doc, 3% single-word spam and 5% carrying an e-mail address."""
    rng = np.random.default_rng([seed, 6])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if r < 0.04 and texts:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif r < 0.10 and texts:
            words = texts[int(rng.integers(0, len(texts)))].split(" ")
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            texts.append(" ".join(words))
        elif r < 0.13:
            texts.append(" ".join(["spark"] * int(rng.integers(5, 30))))
        else:
            n = int(rng.integers(8, 90))
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), n)]
            if rng.random() < 0.05:
                words.insert(int(rng.integers(0, n)), f"user{i}@example.com")
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{int(s):02d}" for s in rng.integers(0, n_sources, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def corpus_sources(seed: int, n_sources: int) -> list[str]:
    """The seed's 90% subset of sources a cleaning pass reads."""
    rng = np.random.default_rng([seed, 7])
    keep = max(1, round(n_sources * 0.9))
    return sorted(f"src{int(s):02d}" for s in rng.permutation(n_sources)[:keep])
