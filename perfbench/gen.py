"""Seeded input generation for the benchmark.

Everything a workload reads is written here, from ``numpy``'s generator
seeded with the run's ``--seed``: the same seed gives byte-identical
inputs. The program under test only ever receives these files.

The seed moves values, keys and the order of operations; it never moves
the *shape* of a workload (row counts, predicate selectivities, batch
sizes, operation mix), so runs on different seeds measure the same amount
of work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 600_000  # TPC-H lineitem at sf0.1
LINEITEM_FILES = 8
ORDERS_ROWS = 150_000  # TPC-H orders at sf0.1
ORDERS_FILES = 8
DOCUMENTS_ROWS = 5_000
EMBEDDINGS_ROWS = 2_000
EMBEDDING_DIM = 64

_EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01 in µs
_DAY_US = 86_400 * 1_000_000

VOCABULARY = 20_000
_STOPWORDS = np.array(["the", "a", "an", "of", "and", "or", "is", "to", "in"])


def write_parquet(table: pa.Table, path: str) -> int:
    """Write one parquet file the way every generated input is written
    (snappy, one row group per 64k rows); returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=65_536)
    return os.path.getsize(path)


def write_split(table: pa.Table, directory: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` contiguous slices under
    ``directory``; returns the total bytes."""
    step = -(-table.num_rows // n_files)
    return sum(
        write_parquet(
            table.slice(i * step, step),
            os.path.join(directory, f"part-{i:05d}.parquet"),
        )
        for i in range(n_files)
    )


def parquet_bytes(table: pa.Table, scratch_path: str) -> int:
    """Bytes ``table`` takes written once as generated parquet — the
    denominator of space amplification."""
    n = write_parquet(table, scratch_path)
    os.remove(scratch_path)
    return n


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


# ------------------------------------------------------------- tables ----
def lineitem(rng: np.random.Generator, n: int = LINEITEM_ROWS) -> pa.Table:
    orderkey = np.sort(rng.integers(0, ORDERS_ROWS, n))
    return pa.table(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _EPOCH_1992_US + rng.integers(0, 3_600, n) * _DAY_US,
                pa.timestamp("us"),
            ),
        }
    )


_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def orders(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15_000, n),
            "o_orderstatus": pa.array(_STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": rng.integers(100_000, 50_000_000, n) / 100.0,
            "o_orderdate": pa.array(
                _EPOCH_1992_US + rng.integers(0, 3_500, n) * _DAY_US,
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(_PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int = DOCUMENTS_ROWS) -> pa.Table:
    """Documents of 8-89 words from a 20,000-word random vocabulary with
    3 % stopwords, and planted duplicates: 1 % exact copies of an earlier
    document and 2 % near copies (one word appended), so both dedup
    operators have groups and pairs to find. A large vocabulary keeps
    unrelated documents far apart, so near-duplicate pairs are the
    planted ones and the all-pairs oracle stays cheap."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(
        ["".join(letters[rng.integers(0, 26, rng.integers(3, 10))]) for _ in range(VOCABULARY)]
    )
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and kind[i] < 0.03:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            words = vocab[rng.integers(0, VOCABULARY, k)]
            stop = rng.random(k) < 0.03
            words[stop] = _STOPWORDS[rng.integers(0, len(_STOPWORDS), stop.sum())]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.array(["en", "de", "es", "fr", "zh"])[rng.integers(0, 5, n)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int = EMBEDDINGS_ROWS) -> pa.Table:
    vecs = rng.standard_normal((n, EMBEDDING_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), EMBEDDING_DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


# ------------------------------------------------------------ copy jobs ----
#: projection + where templates of the copy jobs. Literals are fixed so
#: every seed writes the same share of rows; the seed only moves the data
#: and the order the jobs run in.
ETL_TEMPLATES = (
    (
        ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"],
        "l_quantity > 40",
    ),
    (
        ["l_orderkey", "l_linenumber", "l_discount", "l_tax", "l_returnflag"],
        "l_returnflag = 'R' AND l_discount < 0.06",
    ),
    (
        ["l_orderkey", "l_suppkey", "l_shipdate", "l_linestatus"],
        "l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'",
    ),
    (
        ["l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"],
        "l_orderkey BETWEEN 30000 AND 89999",
    ),
)


@dataclass(frozen=True)
class EtlJob:
    name: str
    columns: list[str]
    where: str
    mode: str  # "insert" | "overwrite"

    def spec(self, source_dir: str, target_dir: str) -> dict:
        """The reference-shaped JSON job spec for this copy job."""
        return {
            "reader": {
                "connection": {"url": source_dir, "table": {"name": "lineitem"}},
                "column": self.columns,
                "where": self.where,
            },
            "writer": {
                "connection": {"url": target_dir, "table": {"name": self.name}},
                "writeMode": self.mode,
            },
        }


def etl_jobs(rng: np.random.Generator) -> list[EtlJob]:
    order = rng.permutation(len(ETL_TEMPLATES))
    return [
        EtlJob(
            f"job{k}",
            ETL_TEMPLATES[t][0],
            ETL_TEMPLATES[t][1],
            "insert" if k % 2 == 0 else "overwrite",
        )
        for k, t in enumerate(order)
    ]


# ------------------------------------------------------------ lake_dml ----
APPEND_ROWS = 1_000
MERGE_ROWS = 2_250  # 1.5 % of the base keys
MERGE_NEW_ROWS = 250
DELETE_SPAN = 1_500  # 1 % of the base keys
READ_SPAN = 15_000


@dataclass(frozen=True)
class DmlOp:
    """One operation of the lake_dml sequence. ``kind`` is the
    VersionedTable call; ``source`` names a generated parquet batch
    (append/merge); ``lo``/``hi`` bound a contiguous key range and
    ``modulus``/``residue`` pick keys spread across every file."""

    kind: str
    source: str | None = None
    lo: int | None = None
    hi: int | None = None
    modulus: int | None = None
    residue: int | None = None

    def sql(self) -> str:
        """The row predicate of a delete/read, in SQL both Spark and
        DuckDB accept."""
        if self.modulus is not None:
            return f"o_orderkey % {self.modulus} = {self.residue}"
        return f"o_orderkey >= {self.lo} AND o_orderkey < {self.hi}"

    def triples(self) -> list[tuple[str, str, int]]:
        return [("o_orderkey", ">=", self.lo), ("o_orderkey", "<", self.hi)]


@dataclass
class DmlPlan:
    base: str
    ops: list[DmlOp] = field(default_factory=list)
    input_rows: int = ORDERS_ROWS  # the base plus every batch


def _range_start(rng: np.random.Generator, span: int) -> int:
    """The first key of a contiguous range of ``span`` keys that lies in
    one of the base's files: a range across a file boundary touches twice
    the files, so the seed would change how much work a pass does."""
    step = -(-ORDERS_ROWS // ORDERS_FILES)
    return int(rng.integers(0, ORDERS_FILES)) * step + int(rng.integers(0, step - span + 1))


def dml_plan(rng: np.random.Generator, directory: str) -> DmlPlan:
    """Write the base table and every batch of the fixed sequence:
    overwrite, then [append, merge, delete, read] twice. The first merge
    and the second delete hit one contiguous key range (file pruning
    works); the other merge and delete are spread over all keys (it
    cannot)."""
    base = os.path.join(directory, "orders.parquet")
    write_split(orders(rng, np.arange(ORDERS_ROWS)), base, ORDERS_FILES)
    plan = DmlPlan(base=base, ops=[DmlOp("overwrite", source=base)])
    next_key = ORDERS_ROWS
    for k, spread in enumerate((False, True)):
        name = os.path.join(directory, f"append{k}.parquet")
        keys = np.arange(next_key, next_key + APPEND_ROWS)
        next_key += APPEND_ROWS
        write_parquet(orders(rng, keys), name)
        plan.input_rows += APPEND_ROWS
        plan.ops.append(DmlOp("append", source=name))

        if spread:
            hit = rng.choice(ORDERS_ROWS, MERGE_ROWS, replace=False)
        else:
            lo = _range_start(rng, MERGE_ROWS)
            hit = np.arange(lo, lo + MERGE_ROWS)
        new = np.arange(next_key, next_key + MERGE_NEW_ROWS)
        next_key += MERGE_NEW_ROWS
        name = os.path.join(directory, f"merge{k}.parquet")
        write_parquet(orders(rng, np.sort(np.concatenate([hit, new]))), name)
        plan.input_rows += MERGE_ROWS + MERGE_NEW_ROWS
        plan.ops.append(DmlOp("merge", source=name))

        if spread:
            lo = _range_start(rng, DELETE_SPAN)
            plan.ops.append(DmlOp("delete", lo=lo, hi=lo + DELETE_SPAN))
        else:
            plan.ops.append(DmlOp("delete", modulus=100, residue=int(rng.integers(0, 100))))

        lo = _range_start(rng, READ_SPAN)
        plan.ops.append(DmlOp("read", lo=lo, hi=lo + READ_SPAN))
    return plan


# ------------------------------------------------------------ curation ----
def cosine_query_pred(rng: np.random.Generator) -> str:
    """The seeded query set of cosine top-k: every 50th vector, offset by
    the seed (40 queries at 2,000 embeddings)."""
    return f"vid % 50 = {int(rng.integers(0, 50))}"
