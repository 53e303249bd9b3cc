"""Seeded input generator for the benchmark.

Everything the engine reads is written here from ``numpy`` draws under
one seed, so the same ``--seed`` gives byte-identical inputs. The
engine only ever sees the generated files; it is never handed Python
objects.

Three kinds of input:

- **gold sales** (parquet): the table the dashboard serves. Written
  directly in the medallion layout the ``DashboardService`` reads.
- **bronze sales** (CSV): the raw form of the same table, fed to the
  unified pipeline, with injected nulls, exact duplicates and outliers
  at the rates below.
- **corpus batches** (parquet): documents for the incremental ingest,
  a share of them near-duplicates of earlier documents.

Categorical filter values are drawn Zipf-skewed, so a request mix that
samples values the same way hits a few values often and many rarely.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: injected defect rates of the bronze CSV (shares of rows)
NULL_RATE = 0.03        # rows with one empty field
DUP_RATE = 0.02         # exact copies of another row of the same file
OUTLIER_RATE = 0.005    # revenue multiplied far outside the bulk
#: share of corpus documents that are near-copies of an earlier one
NEAR_DUP_RATE = 0.15
#: Zipf exponent of every skewed draw: column values, filter values the
#: request mix picks, corpus words. An assumption, not a measurement.
ZIPF_A = 1.1

REGIONS = ["north", "south", "east", "west", "central", "islands"]
CHANNELS = ["web", "store", "phone", "partner"]
TIERS = ["bronze", "silver", "gold", "platinum", "vip"]
N_CATEGORIES = 24
N_PRODUCTS = 600
DATE0 = date(2023, 1, 1).toordinal()
N_DAYS = 730

CATEGORIES = [f"cat-{i:02d}" for i in range(N_CATEGORIES)]
PRODUCTS = [f"prod-{i:04d}" for i in range(N_PRODUCTS)]


def zipf_index(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """Indices in [0, n) with P(i) proportional to 1/(i+1)^ZIPF_A."""
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_A
    return rng.choice(n, size=size, p=p / p.sum())


def sales_arrays(rng: np.random.Generator, n: int, first_id: int, tag: str) -> dict:
    """``n`` clean sales rows as numpy arrays. Prices and revenues carry
    two decimals; engines may sum them in another order, so the oracle
    compares floats with a relative tolerance."""
    qty = rng.integers(1, 21, n).astype(np.int32)
    # prices in cents -> dollars, bounded so no clean row is an outlier
    price = rng.integers(100, 20000, n) / 100.0
    discount = rng.choice(np.array([0.0, 0.05, 0.1, 0.2]), n)
    revenue = np.round(qty * price * (1.0 - discount), 2)
    days = rng.integers(0, N_DAYS, n)
    return {
        "order_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "batch_tag": np.full(n, tag, dtype=object),
        "region": np.array(REGIONS, dtype=object)[zipf_index(rng, len(REGIONS), n)],
        "category": np.array(CATEGORIES, dtype=object)[zipf_index(rng, N_CATEGORIES, n)],
        "product": np.array(PRODUCTS, dtype=object)[zipf_index(rng, N_PRODUCTS, n)],
        "channel": np.array(CHANNELS, dtype=object)[rng.integers(0, len(CHANNELS), n)],
        "tier": np.array(TIERS, dtype=object)[zipf_index(rng, len(TIERS), n)],
        "order_date": np.array([date.fromordinal(DATE0 + int(d)) for d in days], dtype=object),
        "quantity": qty,
        "unit_price": price,
        "discount": discount,
        "revenue": revenue,
    }


def _table(cols: dict) -> pa.Table:
    return pa.table({
        "order_id": pa.array(cols["order_id"], pa.int64()),
        "batch_tag": pa.array(cols["batch_tag"], pa.string()),
        "region": pa.array(cols["region"], pa.string()),
        "category": pa.array(cols["category"], pa.string()),
        "product": pa.array(cols["product"], pa.string()),
        "channel": pa.array(cols["channel"], pa.string()),
        "tier": pa.array(cols["tier"], pa.string()),
        "order_date": pa.array(cols["order_date"], pa.date32()),
        "quantity": pa.array(cols["quantity"], pa.int32()),
        "unit_price": pa.array(cols["unit_price"], pa.float64()),
        "discount": pa.array(cols["discount"], pa.float64()),
        "revenue": pa.array(cols["revenue"], pa.float64()),
    })


def write_gold(path: str, seed: int, n: int, files: int = 8) -> dict:
    """Clean gold sales as a directory of ``files`` parquet parts
    (the shape a Spark writer leaves). Returns rows and bytes."""
    rng = np.random.default_rng([seed, 1])
    table = _table(sales_arrays(rng, n, 1, "b0000"))
    os.makedirs(path, exist_ok=True)
    step = -(-n // files)
    nbytes = 0
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), part, row_group_size=64 * 1024)
        nbytes += os.path.getsize(part)
    return {"rows": n, "bytes": nbytes}


def write_bronze(path: str, seed: int, n: int, first_id: int, batch: int) -> dict:
    """One bronze CSV of about ``n`` rows with injected defects.

    Rows are clean draws, then: OUTLIER_RATE of them get revenue x
    [200, 400] + 500000 (at that share every outlier's z-score is far
    above the detector's threshold of 3 and every clean row's far
    below, so no row sits near the boundary where engines could round
    differently); NULL_RATE get one field emptied; DUP_RATE extra rows
    are exact copies of random rows of the file. Row order is shuffled.
    Returns rows and bytes written."""
    rng = np.random.default_rng([seed, 2, batch])
    cols = sales_arrays(rng, n, first_id, f"b{batch:04d}")
    out = rng.random(n) < OUTLIER_RATE
    cols["revenue"] = np.where(
        out, np.round(cols["revenue"] * rng.uniform(200, 400, n) + 500000.0, 2), cols["revenue"]
    )
    table = _table(cols)
    dup_src = rng.integers(0, n, int(n * DUP_RATE))
    table = pa.concat_tables([table, table.take(pa.array(dup_src))])
    order = rng.permutation(table.num_rows)
    table = table.take(pa.array(order))
    # null injection: one nullable column emptied per chosen row
    nullable = ["region", "category", "product", "quantity", "revenue"]
    hit = rng.random(table.num_rows) < NULL_RATE
    which = rng.integers(0, len(nullable), table.num_rows)
    arrays = {name: table.column(name) for name in table.column_names}
    for j, name in enumerate(nullable):
        mask = pa.array(hit & (which == j))
        col = arrays[name].combine_chunks()
        arrays[name] = pc.if_else(mask, pa.scalar(None, col.type), col)
    table = pa.table(arrays)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


# -- corpus ---------------------------------------------------------

_VOCAB_SIZE = 5000


def _vocab(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, _VOCAB_SIZE)
    return np.array(["".join(rng.choice(letters, k)) for k in lens], dtype=object)


class CorpusGen:
    """Document batches with NEAR_DUP_RATE near-copies of earlier
    documents (a few words swapped in a 40-80 word text, Jaccard over
    3-shingles well above the LSH threshold) plus some exact copies
    differing only in case and spacing."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.vocab = _vocab(seed)
        self.history: list[str] = []
        self.next_id = 1

    def batch(self, index: int, n: int) -> list[tuple[int, str, str, str]]:
        rng = np.random.default_rng([self.seed, 4, index])
        rows = []
        for _ in range(n):
            r = rng.random()
            if self.history and r < NEAR_DUP_RATE:
                base = self.history[int(rng.integers(0, len(self.history)))]
                words = base.split(" ")
                for _ in range(2):
                    words[int(rng.integers(0, len(words)))] = self.vocab[int(zipf_index(rng, _VOCAB_SIZE, 1)[0])]
                text = " ".join(words)
            elif self.history and r < NEAR_DUP_RATE + 0.03:
                text = "  " + self.history[int(rng.integers(0, len(self.history)))].upper()
            else:
                k = int(rng.integers(40, 81))
                text = " ".join(self.vocab[zipf_index(rng, _VOCAB_SIZE, k)])
                self.history.append(text)
            rows.append((self.next_id, text, "en", f"site-{int(rng.integers(0, 8))}"))
            self.next_id += 1
        return rows


def write_docs(path: str, rows: list) -> dict:
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
    })
    os.makedirs(path, exist_ok=True)
    f = os.path.join(path, "part-00000.parquet")
    pq.write_table(table, f)
    return {"rows": table.num_rows, "bytes": os.path.getsize(f)}
