"""Output checks for the query workloads.

A query's Spark result is fingerprinted with `frame_signature` from
`tools/check_correctness.py` (the repository's differential gate, imported
so both agree on canonical values) and compared with the fingerprint of
its DuckDB oracle over the committed corpus.  Oracle fingerprints are
cached in a file keyed by a hash of the oracle's SQL text and of the corpus
bytes, so editing an oracle recomputes it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
from dataclasses import dataclass

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_check_module(root: str):
    """Import `tools/check_correctness.py` from the checkout at `root`."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass(frozen=True)
class Fingerprint:
    rows: int
    cols: tuple[str, ...]
    sig: str

    def mismatch(self, other: Fingerprint) -> str | None:
        """Why `other` differs from this expected fingerprint, or None."""
        if self.rows != other.rows:
            return f"rowcount {other.rows} != {self.rows}"
        if sorted(self.cols) != sorted(other.cols):
            return f"cols {sorted(other.cols)} != {sorted(self.cols)}"
        if self.sig != other.sig:
            return "value-hash mismatch"
        return None


def spark_fingerprint(frame_signature, df) -> Fingerprint:
    rows = [tuple(r) for r in df.collect()]
    return Fingerprint(len(rows), tuple(df.columns), frame_signature(rows, df.columns))


def corpus_digest(corpus_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        with open(os.path.join(corpus_dir, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle fingerprints over `corpus_dir`, cached in `path`."""

    def __init__(self, path: str, corpus_dir: str, frame_signature):
        self._path = path
        self._corpus = corpus_dir
        self._frame_signature = frame_signature
        self._digest = corpus_digest(corpus_dir)
        self._con = None
        try:
            with open(path) as fh:
                self._entries = json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            self._entries = {}

    def _key(self, name: str, sql: str) -> str:
        return hashlib.sha256(f"{name}\0{sql}\0{self._digest}".encode()).hexdigest()

    def expected(self, name: str, sql: str) -> Fingerprint:
        key = self._key(name, sql)
        if key not in self._entries:
            res = self._connection().execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self._entries[key] = {
                "name": name, "rows": len(rows), "cols": cols,
                "sig": self._frame_signature(rows, cols),
            }
            self._save()
        e = self._entries[key]
        return Fingerprint(e["rows"], tuple(e["cols"]), e["sig"])

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self._corpus, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        return self._con

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        tmp = f"{self._path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self._entries, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._path)

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
