"""Seeded input generators owned by the benchmark.

The library ships its own synthetic corpus (``lumbermill_spark.data.synth``),
but a later change to the library must not change what the benchmark
measures, so the inputs are built here with numpy's PCG64 stream and
written with pyarrow. No Spark is involved and nothing here is timed.

Two tables:

- the token table ``(doc_id, tokens: array<int>, n_tok, source)``: one
  log line per row, its UTF-8 bytes as the token array. The source mix is
  apache 60 / nginx 25 / syslog 10 / unknown 5 and the line template
  follows the source, as in the library's corpus (FIXTURES.md F0-F2).
- the document table ``(doc_id, text, n_chars)``: word sequences with
  planted near-duplicate clusters; ``dup_frac`` of the documents are
  edited copies of another document.

Both come with a fingerprint (rows, payload bytes, sha256 of the content)
so that any drift of the inputs shows in the run record.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = ("apache", "nginx", "syslog", "unknown")
SOURCE_P = (0.60, 0.25, 0.10, 0.05)

_METHODS = ["GET", "GET", "GET", "POST", "PUT", "HEAD"]
_PATHS = ["/cgi-bin/try/", "/index.html", "/api/v1/items", "/static/app.js",
          "/login", "/images/logo.png", "/search?q=spark", "/health"]
_STATUSES = ["200", "200", "200", "200", "301", "304", "400", "404", "500"]
_USERS = ["-", "-", "frank", "alice", "bob"]
_REFERERS = ["-", "http://example.com/start", "http://www.google.com/"]
_AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "curl/8.0.1",
           "Mozilla/5.0 (Windows NT 10.0; Win64; x64)"]
_PROTOS = ["TCP", "UDP", "ICMP"]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _lines(rng: np.random.Generator, src: np.ndarray) -> list[str]:
    n = len(src)
    # draws as numpy blocks, formatted from plain lists (numpy scalar
    # indexing in the loop is ~10x slower)
    ip = rng.integers(1, 255, size=(n, 8)).tolist()
    clock = (rng.integers(0, 60, size=(n, 3)) % np.array([24, 60, 60])).tolist()
    day = rng.integers(1, 29, size=n).tolist()
    mon = rng.integers(0, 12, size=n).tolist()
    pick = rng.integers(0, 1 << 30, size=(n, 6)).tolist()
    num = rng.integers(0, 100_000, size=(n, 3)).tolist()
    kind = src.tolist()
    out = []
    for i in range(n):
        p = pick[i]
        hh, mm, ss = clock[i]
        a = ip[i]
        nm = num[i]
        if kind[i] == 0:
            out.append(
                f"{a[0]}.{a[1]}.{a[2]}.{a[3]} - {_USERS[p[0] % 5]} "
                f"[{day[i]:02d}/{_MONTHS[mon[i]]}/2006:{hh:02d}:{mm:02d}:{ss:02d}"
                f' -0300] "{_METHODS[p[1] % 6]} {_PATHS[p[2] % 8]} HTTP/1.0" '
                f"{_STATUSES[p[3] % 9]} {nm[0]}")
        elif kind[i] == 1:
            out.append(
                f"{a[0]}.{a[1]}.{a[2]}.{a[3]} - {_USERS[p[0] % 5]} "
                f"[{day[i]:02d}/{_MONTHS[mon[i]]}/2016:{hh:02d}:{mm:02d}:{ss:02d}"
                f' +0000] "{_METHODS[p[1] % 6]} {_PATHS[p[2] % 8]} HTTP/1.1" '
                f'{_STATUSES[p[3] % 9]} {nm[0]} "{_REFERERS[p[4] % 3]}" '
                f'"{_AGENTS[p[5] % 3]}"')
        elif kind[i] == 2:
            out.append(
                f"<{nm[1] % 192}>{_MONTHS[mon[i]]} {day[i]:2d} "
                f"{hh:02d}:{mm:02d}:{ss:02d} fw01 kernel: iptables denied: "
                f"IN=eth0 OUT= SRC={a[0]}.{a[1]}.{a[2]}.{a[3]} "
                f"DST={a[4]}.{a[5]}.{a[6]}.{a[7]} PROTO={_PROTOS[p[4] % 3]} "
                f"SPT={nm[2] % 65535 + 1} DPT={nm[0] % 65535 + 1}")
        else:
            out.append(f"?? corrupt frame {p[0]:x} {p[1]:x} ??")
    return out


def _write(table: pa.Table, path: str, files: int) -> None:
    """Split ``table`` into ``files`` parquet files, one row group each,
    so the scan has a known number of splits."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for k in range(files):
        lo, hi = n * k // files, n * (k + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{k:03d}.parquet"),
                       row_group_size=max(hi - lo, 1))


def _fingerprint(table: pa.Table, payload: str, path: str) -> dict:
    h = hashlib.sha256()
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        for buf in col.buffers():
            if buf is not None:
                h.update(buf)
    disk = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return {"rows": table.num_rows,
            "payload_bytes": int(pa.compute.sum(table.column(payload)).as_py()),
            "parquet_bytes": disk, "sha256": h.hexdigest()[:16]}


def token_table(seed: int, rows: int) -> pa.Table:
    """The token table for ``seed``: same seed, same bytes."""
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    src = rng.choice(len(SOURCES), size=rows, p=SOURCE_P)
    lines = [s.encode("ascii") for s in _lines(rng, src)]
    lens = np.fromiter(map(len, lines), dtype=np.int32, count=rows)
    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = np.frombuffer(b"".join(lines), dtype=np.uint8).astype(np.int32)
    order = rng.permutation(rows)
    return pa.table({
        "doc_id": pa.array([f"doc-{k:012d}" for k in order]),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(lens),
        "source": pa.array(np.array(SOURCES)[src]),
    })


def write_tokens(seed: int, rows: int, path: str, files: int) -> dict:
    table = token_table(seed, rows)
    _write(table, path, files)
    return _fingerprint(table, "n_tok", path)


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=size)
    raw = rng.integers(0, 26, size=(size, 8))
    return np.array(["".join(letters[raw[i, :lens[i]]]) for i in range(size)])


def doc_table(seed: int, docs: int, dup_frac: float) -> pa.Table:
    """Documents of 30-60 words over a 20k-word vocabulary. ``dup_frac``
    of the rows are copies of an earlier row (a cluster root, or another
    copy, so clusters can chain) with 1-4 words replaced: their word
    3-gram Jaccard to the parent lies around 0.6-0.9, while unrelated
    documents share almost no 3-grams."""
    rng = np.random.Generator(np.random.PCG64([seed, 2]))
    vocab = _vocab(rng, 20_000)
    words: list[np.ndarray] = []
    is_dup = rng.random(docs) < dup_frac
    is_dup[0] = False
    for i in range(docs):
        if is_dup[i]:
            base = words[int(rng.integers(0, i))].copy()
            k = int(rng.integers(1, 5))
            base[rng.integers(0, len(base), size=k)] = vocab[
                rng.integers(0, len(vocab), size=k)]
            words.append(base)
        else:
            words.append(vocab[rng.integers(0, len(vocab),
                                            size=int(rng.integers(30, 61)))])
    text = [" ".join(w) for w in words]
    order = rng.permutation(docs)
    return pa.table({
        "doc_id": pa.array([f"d-{k:08d}" for k in order]),
        "text": pa.array(text),
        "n_chars": pa.array(np.fromiter(map(len, text), dtype=np.int32,
                                        count=docs)),
    })


def write_docs(seed: int, docs: int, dup_frac: float, path: str,
               files: int) -> dict:
    table = doc_table(seed, docs, dup_frac)
    _write(table, path, files)
    fp = _fingerprint(table, "n_chars", path)
    fp["dup_frac"] = dup_frac
    return fp
