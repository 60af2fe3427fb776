"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_tables`` writes the ten fixture tables the query registry reads
  (``sources.tables.FIXTURE_TABLES``) at a given scale factor. Schemas and
  value domains follow FIXTURES.md section B: a TPC-H-like star schema, an
  ``events`` stream table, a word-soup ``documents`` table with 5 % near
  duplicates, and unit-norm 64-dim ``embeddings``. The tables depend only
  on their own seed, so the DuckDB oracle digests computed over them can be
  cached.
* ``make_folders`` writes image folders for the ``tag_folder`` workload and
  returns the ground truth the tagging flow must reproduce.
"""

from __future__ import annotations

import hashlib
import math
import os
from dataclasses import dataclass, field

import numpy as np

TABLE_SEED = 42
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    words = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # 5 % near duplicates (another document plus one extra token) and a few
    # exact copies: the dedup and similarity operators need both to find.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return texts, _pick(rng, LANGS, n, LANG_P)


def build_tables(sf: float, seed: int = TABLE_SEED) -> dict:
    """name -> pyarrow.Table for every fixture table at scale ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")

    def arr(values, typ=None):
        return pa.array(values, type=typ)

    tables = {
        "region": {"r_regionkey": arr(np.arange(5), i32), "r_name": arr(REGIONS)},
        "nation": {
            "n_nationkey": arr(np.arange(25), i32),
            "n_name": arr([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": arr(np.arange(25) % 5, i32),
        },
        "customer": {
            "c_custkey": arr(np.arange(n_cust), i64),
            "c_name": arr([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": arr(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": arr(_money(rng, -999.99, 9999.99, n_cust), f64),
            "c_mktsegment": arr(_pick(rng, SEGMENTS, n_cust)),
        },
        "supplier": {
            "s_suppkey": arr(np.arange(n_supp), i64),
            "s_name": arr([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": arr(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": arr(_money(rng, -999.99, 9999.99, n_supp), f64),
        },
        "part": {
            "p_partkey": arr(np.arange(n_part), i64),
            "p_name": arr(
                [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n_part), _pick(rng, PART_NOUN, n_part))]
            ),
            "p_brand": arr([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": arr(_pick(rng, PART_TYPES, n_part)),
            "p_size": arr(rng.integers(1, 51, n_part), i32),
            "p_retailprice": arr(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
        },
        "orders": {
            "o_orderkey": arr(np.arange(n_ord), i64),
            "o_custkey": arr(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": arr(_pick(rng, ["F", "O", "P"], n_ord)),
            "o_totalprice": arr(_money(rng, 1000.0, 500_000.0, n_ord), f64),
            "o_orderdate": arr(EPOCH_1995_US + rng.integers(0, 2405, n_ord) * DAY_US, ts),
            "o_orderpriority": arr(_pick(rng, PRIORITIES, n_ord)),
        },
        "lineitem": {
            "l_orderkey": arr(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": arr(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": arr(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": arr(rng.integers(1, 8, n_line), i32),
            "l_quantity": arr(rng.integers(1, 51, n_line).astype(np.float64), f64),
            "l_extendedprice": arr(_money(rng, 900.0, 105_000.0, n_line), f64),
            "l_discount": arr(_money(rng, 0.0, 0.1, n_line), f64),
            "l_tax": arr(_money(rng, 0.0, 0.08, n_line), f64),
            "l_returnflag": arr(_pick(rng, ["A", "N", "R"], n_line)),
            "l_linestatus": arr(_pick(rng, ["F", "O"], n_line)),
            "l_shipdate": arr(EPOCH_1995_US + rng.integers(1, 2499, n_line) * DAY_US, ts),
        },
        "events": {
            "event_id": arr(np.arange(n_ev), i64),
            "ts": arr(np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev)), ts),
            "user_id": arr(rng.integers(0, n_users, n_ev), i64),
            "event_type": arr(_pick(rng, EVENT_TYPES, n_ev)),
            "value": arr(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": arr([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
    }
    texts, langs = _documents(rng, n_doc)
    tables["documents"] = {
        "doc_id": arr(np.arange(n_doc), i64),
        "text": arr(texts),
        "lang": arr(langs),
        "source": arr([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": arr([len(t) for t in texts], i64),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": arr(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": arr(rng.integers(0, 10, n_emb), i32),
    }
    return {name: pa.table(cols) for name, cols in tables.items()}


def write_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> str:
    """Write every fixture table under ``out_dir``; return a content digest
    that changes whenever any generated value does."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256(f"sf={sf};seed={seed}".encode())
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        for col in table.columns:
            for buf in col.combine_chunks().buffers():
                if buf is not None:
                    digest.update(memoryview(buf))
    return digest.hexdigest()[:16]


# ---------------------------------------------------------------------------
# tag_folder inputs
# ---------------------------------------------------------------------------

IMAGE_SUFFIXES = ["jpg", "jpeg", "png", "webp", "bmp", "gif"]
OTHER_SUFFIXES = ["txt", "json", "csv"]
TRUNCATED_SHARE = 0.01


@dataclass
class Folder:
    path: str
    images: dict[str, bytes] = field(default_factory=dict)  # relative path -> bytes
    truncated: set[str] = field(default_factory=set)  # relative paths
    n_other: int = 0

    @property
    def n_images(self) -> int:
        return len(self.images)


def folder_sizes(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[int]:
    """``n`` sizes spread log-uniformly over [lo, hi]: one size near the
    middle of each equal slice of log-space (jittered by a tenth of a
    slice), so every seed gets the same spread of small and large folders,
    in a seeded order."""
    span = math.log(hi) - math.log(lo)
    u = (np.arange(n) + 0.5 + rng.uniform(-0.1, 0.1, n)) / n
    sizes = np.round(np.exp(math.log(lo) + u * span)).astype(int)
    return [int(s) for s in rng.permutation(sizes)]


def make_folders(root: str, seed: int, n_folders: int, lo: int, hi: int) -> list[Folder]:
    """Write ``n_folders`` image folders under ``root``.

    Each folder holds images in nested subfolders with suffixes in lower
    and upper case, a few non-image files, and about 1 % truncated images
    (1-3 bytes, which the decoder rejects). Basenames are unique within a
    folder, so each image maps to one sidecar file.
    """
    rng = np.random.default_rng([seed, 1])
    folders = []
    for f, size in enumerate(folder_sizes(rng, n_folders, lo, hi)):
        folder = Folder(os.path.join(root, f"folder_{f:03d}"))
        n_trunc = int(rng.binomial(size, TRUNCATED_SHARE))
        trunc_idx = set(rng.choice(size, n_trunc, replace=False).tolist())
        for i in range(size):
            depth = int(rng.integers(0, 3))
            sub = "/".join(f"d{int(rng.integers(0, 4))}" for _ in range(depth))
            ext = IMAGE_SUFFIXES[int(rng.integers(0, len(IMAGE_SUFFIXES)))]
            if rng.uniform() < 0.3:
                ext = ext.upper()
            rel = os.path.join(sub, f"img_{f:03d}_{i:05d}.{ext}")
            if i in trunc_idx:
                data = rng.bytes(int(rng.integers(1, 4)))
                folder.truncated.add(rel)
            else:
                data = rng.bytes(int(np.exp(rng.uniform(math.log(2048), math.log(24576)))))
            folder.images[rel] = data
        folder.n_other = 1 + size // 50
        for j in range(folder.n_other):
            ext = OTHER_SUFFIXES[j % len(OTHER_SUFFIXES)]
            _write(os.path.join(folder.path, f"note_{j}.{ext}"), rng.bytes(64))
        for rel, data in folder.images.items():
            _write(os.path.join(folder.path, rel), data)
        folders.append(folder)
    return folders


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
