"""Seeded input generator for the benchmark (NumPy + pyarrow, no Spark).

Writes `sequences` rows in the BASELINE shape plus the streaming columns:
(doc_id string, tokens list<int32>, n_tok int32, source string,
 event_ts timestamp[us], seq_no int64), one parquet file per "drop", file
names and modification times in event-time order.

Every property the engine's behaviour depends on is drawn from the seed:
per-row token count, watermark coverage and token, placement of the text
spans inside the watermark span, the heavy-hitter source share and the
documents opened per drop. The distributions are fixed, so the work per row
is statistically the same for every seed and seeds differ only in detail.

The program under test never imports this module; it only reads the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_TOK_CHOICES = (1792, 2048, 2304)   # mean 2048, the BASELINE row width
SOURCES = ("web", "books", "code", "wiki", "news", "forum", "paper", "chat")
CLEAN_ROW_SHARE = 0.10               # rows with dark text only, no watermark
EPOCH_S = 1767225600                 # 2026-01-01T00:00:00Z
ROW_GAP_MS = 100                     # event-time step between rows

SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("event_ts", pa.timestamp("us")),
    ("seq_no", pa.int64()),
])


def _row_tokens(rng: np.random.Generator, n: int, wm: int, cov: float,
                clean: bool) -> np.ndarray:
    """One row: background noise 251..255 (above the background-protection
    threshold, so it is never masked), a watermark span of `cov` of the row
    at token `wm` with two short dark text spans inside it, or, for a clean
    row, a dark text span only."""
    a = rng.integers(251, 256, size=n, dtype=np.int32)
    if clean:
        lo = int(rng.integers(0, n - n // 8))
        a[lo:lo + n // 10] = int(rng.integers(10, 60))
        return a
    span = int(cov * n)
    lo = int(rng.integers(0, n - span))
    a[lo:lo + span] = wm
    text = int(rng.integers(0, 40))
    t = max(8, span // 30)
    for frac in (rng.uniform(0.38, 0.45), rng.uniform(0.55, 0.62)):
        s = lo + int(frac * span)
        a[s:s + t] = text
    return a


class DocStream:
    """Seeded source of event-time-ordered rows. Documents open over time
    and stay live; each row continues a live document or opens a new one.
    A document keeps one watermark token for all its rows, so per-document
    carry-over (the stateful chain) and per-row self-detection (the
    stateless jobs) repair every row the same way."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.heavy_share = float(self.rng.uniform(0.55, 0.65))
        self.docs: list[tuple[str, str, int, int]] = []  # id, src, wm, next
        self.row = 0

    def _open_doc(self) -> int:
        r = self.rng
        src = ("web" if r.random() < self.heavy_share
               else SOURCES[1 + int(r.integers(0, len(SOURCES) - 1))])
        wm = int(r.integers(170, 216))
        self.docs.append((f"doc{len(self.docs):06d}", src, wm, 0))
        return len(self.docs) - 1

    def rows(self, n_rows: int, new_docs: int) -> pa.Table:
        """Next `n_rows` rows in event-time order, opening `new_docs`
        documents among them."""
        r = self.rng
        opened = [self._open_doc() for _ in range(new_docs)]
        cols: dict[str, list] = {k: [] for k in SCHEMA.names}
        for i in range(n_rows):
            d = opened[i] if i < len(opened) else int(
                r.integers(0, len(self.docs)))
            doc_id, src, wm, nxt = self.docs[d]
            self.docs[d] = (doc_id, src, wm, nxt + 1)
            n = int(N_TOK_CHOICES[int(r.integers(0, len(N_TOK_CHOICES)))])
            clean = bool(r.random() < CLEAN_ROW_SHARE)
            cov = float(r.uniform(0.17, 0.19))
            cols["doc_id"].append(doc_id)
            cols["tokens"].append(_row_tokens(r, n, wm, cov, clean))
            cols["n_tok"].append(n)
            cols["source"].append(src)
            cols["event_ts"].append(EPOCH_S * 1_000_000
                                    + self.row * ROW_GAP_MS * 1000)
            cols["seq_no"].append(nxt)
            self.row += 1
        toks = cols.pop("tokens")
        offsets = np.zeros(len(toks) + 1, dtype=np.int32)
        np.cumsum([t.size for t in toks], out=offsets[1:])
        flat = np.concatenate(toks) if toks else np.zeros(0, np.int32)
        arrays = {k: pa.array(v, type=SCHEMA.field(k).type)
                  for k, v in cols.items()}
        arrays["tokens"] = pa.ListArray.from_arrays(pa.array(offsets),
                                                    pa.array(flat))
        return pa.table({k: arrays[k] for k in SCHEMA.names}, schema=SCHEMA)


def write_drops(path: str, seed: int, n_files: int, rows_per_file: int,
                new_docs_per_file: tuple[int, int] = (2, 6)) -> int:
    """Write `n_files` parquet drops `part-00000.parquet`... in event-time
    order (names and mtimes strictly increasing, so a file stream reads
    them in that order). The documents opened per drop are drawn per seed
    from `new_docs_per_file`. Returns the row count."""
    os.makedirs(path, exist_ok=True)
    stream = DocStream(seed)
    lo, hi = new_docs_per_file
    per_file_new = int(stream.rng.integers(lo, hi + 1))
    t0 = 1_700_000_000
    for i in range(n_files):
        tbl = stream.rows(rows_per_file, per_file_new)
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (t0 + i, t0 + i))
    return n_files * rows_per_file


def prime(path: str) -> int:
    """Read every file once so the timed region starts with a warm page
    cache. Returns the bytes read."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while chunk := fh.read(1 << 20):
                    total += len(chunk)
    return total


def event_time_ordered(path: str) -> bool:
    """True iff the drops, taken in file-name order, have non-decreasing
    event_ts within and across files and non-decreasing mtimes."""
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    last_ts, last_mtime = None, None
    for f in files:
        full = os.path.join(path, f)
        mtime = os.stat(full).st_mtime
        ts = pq.read_table(full, columns=["event_ts"]).column(0)
        ts = ts.cast(pa.int64()).to_numpy()
        if ts.size and (np.any(np.diff(ts) < 0)
                        or (last_ts is not None and ts[0] < last_ts)):
            return False
        if last_mtime is not None and mtime <= last_mtime:
            return False
        if ts.size:
            last_ts = ts[-1]
        last_mtime = mtime
    return True

