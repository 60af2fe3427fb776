"""Output checks, run outside the timed region.

* Queries are compared with their DuckDB oracle by the rules of
  ``tests/oracle_harness.py`` (column names, Arrow width classes, row count,
  canonical row multiset), imported from there. The oracle side is reduced
  to a digest and cached per (query, oracle SQL, generated data), because
  some oracles take tens of seconds.
* ``tag_folder`` outputs are compared with a single-process transcription
  of the reference loop: ``fake_decode_bytes`` -> ``StubScorer`` ->
  ``sigmoid_clip_np`` -> ``get_tags`` over the tag dimension.
"""

from __future__ import annotations

import hashlib
import json
import os

from tests import oracle_harness as harness

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED_DIGESTS = os.path.join(HERE, "oracle_digests.json")


def _digest(columns: list[str], rows: list[tuple]) -> str:
    multiset = harness._rows_multiset(columns, rows)
    h = hashlib.sha256()
    for line in sorted(repr(item) for item in multiset.items()):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def oracle_summary(sql: str, sf_dir: str) -> dict:
    con = harness.duckdb_connection(sf_dir)
    try:
        # Arrow fetch, as the harness does: it keeps DuckDB's width classes
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    cols = [c.lower() for c in tbl.column_names]
    rows = [tuple(d.values()) for d in tbl.to_pylist()]
    return {
        "cols": sorted(cols),
        "widths": {n.lower(): harness._arrow_width(f.type) for n, f in zip(tbl.column_names, tbl.schema)},
        "rows": len(rows),
        "digest": _digest(cols, rows),
    }


def spark_summary(df) -> dict:
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    return {
        "cols": sorted(cols),
        "widths": {f.name.lower(): harness._spark_width(f.dataType) for f in df.schema.fields},
        "rows": len(rows),
        "digest": _digest(cols, rows),
    }


def compare_summaries(spark_side: dict, oracle_side: dict) -> str | None:
    """None when they match, else the first difference, in the harness's
    order of checks."""
    if spark_side["cols"] != oracle_side["cols"]:
        return f"schema mismatch: spark={spark_side['cols']} duck={oracle_side['cols']}"
    sw, dw = spark_side["widths"], oracle_side["widths"]
    bad = {c: (sw[c], dw[c]) for c in sw if c in dw and sw[c] != dw[c]}
    if bad:
        return f"output type-width mismatch: {bad}"
    if spark_side["rows"] != oracle_side["rows"]:
        return f"row count mismatch: spark={spark_side['rows']} duck={oracle_side['rows']}"
    if spark_side["digest"] != oracle_side["digest"]:
        return "value mismatch (row multisets differ)"
    return None


def oracle_key(name: str, sql: str, data_fp: str) -> str:
    sql_sha = hashlib.sha256(sql.encode("utf-8")).hexdigest()[:16]
    return f"{name}|{sql_sha}|{data_fp}"


class OracleCache:
    """Oracle digests keyed by query name, oracle SQL and data digest.

    Lookups go to the committed digests first, then to a cache file in the
    checkout; misses run DuckDB and fill the cache file. Oracles that read
    files the Spark side staged (the ``pipeline_score_tag`` handoff) are
    never cached."""

    def __init__(self, cache_file: str, data_fp: str, staging_root: str) -> None:
        self.cache_file = cache_file
        self.data_fp = data_fp
        self.staging_root = staging_root
        self.entries: dict[str, dict] = {}
        for path in (COMMITTED_DIGESTS, cache_file):
            if os.path.exists(path):
                with open(path) as f:
                    self.entries.update(json.load(f))
        self.hits = 0
        self.misses = 0

    def summary(self, name: str, sql: str, sf_dir: str) -> dict:
        if self.staging_root in sql:
            return oracle_summary(sql, sf_dir)
        key = oracle_key(name, sql, self.data_fp)
        if key in self.entries:
            self.hits += 1
            return self.entries[key]
        self.misses += 1
        self.entries[key] = oracle_summary(sql, sf_dir)
        self._save(key)
        return self.entries[key]

    def _save(self, key: str) -> None:
        os.makedirs(os.path.dirname(self.cache_file), exist_ok=True)
        current = {}
        if os.path.exists(self.cache_file):
            with open(self.cache_file) as f:
                current = json.load(f)
        current[key] = self.entries[key]
        tmp = f"{self.cache_file}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(current, f, sort_keys=True)
        os.replace(tmp, self.cache_file)


# ---------------------------------------------------------------------------
# tag_folder
# ---------------------------------------------------------------------------


PROB_TOL = 1e-6  # float32 scores: batched and single-row matmuls differ by ~1e-7


class TagReference:
    """Accepted ``tags_text`` values per image, from the reference loop run
    in this process with batch size 1.

    The engine scores in batches, and a float32 matmul over a batch can
    round differently from one over a single row. So where a probability
    lies within ``PROB_TOL`` of a threshold or of a tie for a top-1
    category, every outcome of that decision is accepted; every other
    decision must match exactly."""

    def __init__(self, dim_rows) -> None:
        from cl_tagger_batch_processing_spark.kernels.scoring import StubScorer
        from cl_tagger_batch_processing_spark.operators.tagging import (
            DEFAULT_CHAR_THRESHOLD,
            DEFAULT_GEN_THRESHOLD,
        )

        self.dim = {int(r["tag_idx"]): (r["tag_name"], r["category"]) for r in dim_rows}
        self.scorer = StubScorer()
        self.gen, self.char = DEFAULT_GEN_THRESHOLD, DEFAULT_CHAR_THRESHOLD
        self._memo: dict[bytes, set[str]] = {}

    def accepted(self, content: bytes) -> set[str]:
        """Accepted tag strings for a decodable image."""
        import itertools

        import numpy as np

        from cl_tagger_batch_processing_spark.kernels.preprocess import fake_decode_bytes
        from cl_tagger_batch_processing_spark.kernels.scoring import sigmoid_clip_np
        from tests.test_tagging_properties import reference_get_tags

        key = hashlib.sha256(content).digest()
        if key not in self._memo:
            tensor = fake_decode_bytes(content)
            logits = self.scorer.score_batch(tensor[np.newaxis].astype(np.float32))
            probs = {i: float(p) for i, p in enumerate(sigmoid_clip_np(logits)[0])}
            close = {i for i, p in probs.items() if min(abs(p - self.gen), abs(p - self.char)) <= PROB_TOL}
            for cat in ("rating", "quality"):
                idx = [i for i, (_, c) in self.dim.items() if c == cat and i in probs]
                top = max(probs[i] for i in idx)
                near = {i for i in idx if top - probs[i] <= PROB_TOL}
                if len(near) > 1:
                    close |= near
            close_list = sorted(close)[:8]
            out = set()
            for signs in itertools.product((-1, 1), repeat=len(close_list)):
                nudged = dict(probs)
                for i, s in zip(close_list, signs):
                    nudged[i] = probs[i] + 2 * s * PROB_TOL
                out.add(reference_get_tags(nudged, self.dim, self.gen, self.char))
            self._memo[key] = out
        return self._memo[key]


def check_counters(folder, observed: dict) -> str | None:
    want = {
        "n_total": folder.n_images,
        "n_ok": folder.n_images - len(folder.truncated),
        "n_error": len(folder.truncated),
    }
    got = {k: int(observed.get(k) or 0) for k in want}
    return None if got == want else f"counters {got} != truth {want}"


def check_sidecars(folder, out_dir: str, ref: TagReference) -> str | None:
    want = {}
    for rel, data in folder.images.items():
        base = os.path.splitext(os.path.basename(rel))[0] + ".txt"
        want[base] = {""} if rel in folder.truncated else ref.accepted(data)
    got = {}
    for name in os.listdir(out_dir):
        with open(os.path.join(out_dir, name), encoding="utf-8") as f:
            got[name] = f.read()
    if set(got) != set(want):
        return f"sidecar files: {len(set(want) - set(got))} missing, {len(set(got) - set(want))} unexpected"
    bad = [n for n in want if got[n] not in want[n]]
    return f"{len(bad)} sidecars differ, e.g. {bad[0]}" if bad else None


def check_parquet(folder, out_path: str, ref: TagReference) -> str | None:
    import pyarrow.parquet as pq

    rows = pq.read_table(out_path).to_pylist()
    got = {}
    for r in rows:
        path = r["path"][len("file:"):] if r["path"].startswith("file:") else r["path"]
        got[os.path.relpath(path, folder.path)] = r
    if set(got) != set(folder.images):
        return f"parquet rows: {len(set(folder.images) - set(got))} missing, {len(set(got) - set(folder.images))} unexpected"
    for rel, data in folder.images.items():
        r = got[rel]
        if rel in folder.truncated:
            if r["status"] != "error" or r["tags_text"] is not None or not r["error"]:
                return f"{rel}: expected an error row, got {r}"
        elif r["status"] != "ok" or r["error"] is not None or r["tags_text"] not in ref.accepted(data):
            return f"{rel}: tags differ from the reference"
    return None
