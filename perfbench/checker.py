"""Invariant checker for a saved index, reading parquet with pyarrow.

Posting lists are decoded with this module's own LEB128 varint and
delta decoder (nothing is imported from the program's codecs).  The
checks:

* per posting row: doc ids strictly ascending; df equals the decoded
  length of the doc, tf and dl streams; cf equals the sum of tfs;
* every posting's dl equals the doc_stats dl of that document;
* per term: df and cf in term_stats equal the sums over parts;
* n_docs in the globals equals the doc_stats row count;
* against the oracle: n_docs, every term's (df, cf), the total of cf
  over term_stats and the total of dl over doc_stats.

Both store layouts are read: the flat one ``InvertedIndex.save``
writes, and the versioned one, whose manifests name the version
directory that owns each doc part and term bucket.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def varint_decode(buf: bytes) -> np.ndarray:
    """LEB128 bytes -> uint64 values."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = np.zeros(len(ends), dtype=np.uint64)
    width = int((ends - starts).max()) + 1
    for j in range(width):
        idx = starts + j
        ok = idx <= ends
        out[ok] |= (b[idx[ok]].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    return out


def varint_encode(values) -> bytes:
    """uint64 values -> LEB128 bytes (used to plant faults)."""
    out = bytearray()
    for v in np.asarray(values, dtype=np.uint64).tolist():
        while True:
            byte = v & 0x7F
            v >>= 7
            out.append(byte | (0x80 if v else 0))
            if not v:
                break
    return bytes(out)


def _stream(col) -> tuple[np.ndarray, np.ndarray]:
    """Decode a whole binary column at once: (row of each value, values)."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    col = col.cast(pa.large_binary())
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[
        col.offset:col.offset + len(col) + 1]
    data = bufs[2]
    raw = (np.frombuffer(data, dtype=np.uint8)[offsets[0]:offsets[-1]]
           if data is not None else np.empty(0, np.uint8))
    vals = varint_decode(raw.tobytes())
    ends = np.flatnonzero((raw & 0x80) == 0) + offsets[0]
    rows = np.searchsorted(offsets, ends, side="right") - 1
    return rows.astype(np.int64), vals


def decode_docs(buf: bytes) -> np.ndarray:
    """Delta-coded doc ids -> absolute ids (int64; wrap-around deltas of
    an out-of-order list come back as the smaller absolute id)."""
    return np.cumsum(varint_decode(buf), dtype=np.uint64).view(np.int64)


@dataclass
class Layout:
    """Parquet files of one index snapshot, by table."""

    postings: list[str] = field(default_factory=list)
    doc_stats: list[str] = field(default_factory=list)
    term_stats: list[str] = field(default_factory=list)
    n_docs: int = 0


def parquet_files(d: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(d):
        out += [os.path.join(root, n) for n in names
                if n.endswith(".parquet")]
    return sorted(out)


def flat_layout(path: str) -> Layout:
    g = pq.read_table(parquet_files(f"{path}/globals")).to_pylist()[0]
    return Layout(parquet_files(f"{path}/postings"),
                  parquet_files(f"{path}/doc_stats"),
                  parquet_files(f"{path}/term_stats"), int(g["n_docs"]))


def versioned_layout(path: str, snapshot: int) -> Layout:
    cp = ds.dataset(f"{path}/checkpoint", format="parquet").to_table()
    row = [r for r in cp.to_pylist() if r["snapshot_id"] == snapshot][0]
    man = pq.read_table(
        parquet_files(f"{path}/v{snapshot}/manifest")).to_pylist()
    tman = pq.read_table(
        parquet_files(f"{path}/v{snapshot}/term_manifest")).to_pylist()
    lay = Layout(n_docs=int(row["n_docs"]))
    for r in man:
        v, p = int(r["version"]), int(r["doc_part"])
        lay.postings += parquet_files(f"{path}/v{v}/postings/doc_part={p}")
        lay.doc_stats += parquet_files(f"{path}/v{v}/doc_stats/doc_part={p}")
    for r in tman:
        v, b = int(r["version"]), int(r["term_bucket"])
        lay.term_stats += parquet_files(
            f"{path}/v{v}/term_stats/term_bucket={b}")
    return lay


def _read(files: list[str], columns: list[str]):
    tables = [pq.read_table(f, columns=columns) for f in files]
    return pa.concat_tables(tables) if tables else None


def check(lay: Layout, oracle=None, limit: int = 5) -> list[str]:
    """Every invariant violation found (at most ``limit`` per kind)."""
    errs: dict[str, list[str]] = {}

    def bad(kind: str, msg: str) -> None:
        errs.setdefault(kind, [])
        if len(errs[kind]) < limit:
            errs[kind].append(f"{kind}: {msg}")

    dst = _read(lay.doc_stats, ["doc_idx", "id", "dl"])
    doc_idx = np.asarray(dst.column("doc_idx"), dtype=np.int64) if dst else np.empty(0, np.int64)
    doc_dl = np.asarray(dst.column("dl"), dtype=np.int64) if dst else np.empty(0, np.int64)
    order = np.argsort(doc_idx)
    doc_idx, doc_dl = doc_idx[order], doc_dl[order]
    if len(np.unique(doc_idx)) != len(doc_idx):
        bad("doc_stats", "duplicate doc_idx")
    if len(doc_idx) != lay.n_docs:
        bad("n_docs", f"globals say {lay.n_docs}, doc_stats has {len(doc_idx)}")
    # doc_idx -> row of doc_stats, -1 where no document has that doc_idx
    row_of = np.full(int(doc_idx.max()) + 1 if len(doc_idx) else 1, -1,
                     dtype=np.int64)
    row_of[doc_idx] = np.arange(len(doc_idx))

    sums: dict[str, list[int]] = {}
    n_rows = n_entries = 0
    for f in lay.postings:
        t = pq.read_table(f, columns=["term", "df", "cf", "docs_bin",
                                      "tfs_bin", "dls_bin"])
        terms = t.column("term").to_pylist()
        df = np.asarray(t.column("df"), dtype=np.int64)
        cf = np.asarray(t.column("cf"), dtype=np.int64)
        n_rows += len(terms)
        rows, deltas = _stream(t.column("docs_bin"))
        tf_rows, tfs = _stream(t.column("tfs_bin"))
        dl_rows, dls = _stream(t.column("dls_bin"))
        n_entries += len(deltas)
        counts = np.bincount(rows, minlength=len(terms))
        ok = ((counts == df) & (np.bincount(tf_rows, minlength=len(terms)) == df)
              & (np.bincount(dl_rows, minlength=len(terms)) == df))
        for i in np.flatnonzero(~ok):
            bad("df", f"{terms[i]!r}: df {df[i]} vs decoded length {counts[i]}")
        if not ok.all() or len(deltas) == 0:
            continue
        # per-row delta decode: a running sum restarted at each row
        csum = np.cumsum(deltas, dtype=np.uint64)
        first = np.concatenate(([0], np.cumsum(counts)[:-1]))
        base = np.where(first > 0, csum[np.maximum(first - 1, 0)],
                        np.uint64(0)).astype(np.uint64)
        docs = (csum - np.repeat(base, counts)).view(np.int64)
        same = rows[1:] == rows[:-1]
        for i in np.unique(rows[1:][same & (docs[1:] <= docs[:-1])]):
            bad("order", f"{terms[i]!r} in {os.path.basename(os.path.dirname(f))}:"
                " doc ids not strictly ascending")
        tf_sum = np.bincount(rows, weights=tfs.astype(np.float64),
                             minlength=len(terms)).astype(np.int64)
        for i in np.flatnonzero(tf_sum != cf):
            bad("cf", f"{terms[i]!r}: cf {cf[i]} vs sum(tf) {tf_sum[i]}")
        pos = row_of[np.clip(docs, 0, len(row_of) - 1)]
        known = (pos >= 0) & (docs >= 0) & (docs < len(row_of))
        pos[~known] = 0
        for i in np.unique(rows[~known]):
            bad("doc_ref", f"{terms[i]!r}: posting for a doc not in doc_stats")
        wrong_dl = known & (doc_dl[pos] != dls.astype(np.int64))
        for i in np.unique(rows[wrong_dl]):
            bad("dl", f"{terms[i]!r}: posting dl differs from doc_stats dl")
        for term, d, c in zip(terms, df.tolist(), cf.tolist()):
            acc = sums.setdefault(term, [0, 0])
            acc[0] += d
            acc[1] += c

    ts = _read(lay.term_stats, ["term", "df", "cf"])
    stats = {}
    if ts is not None:
        for term, df, cf in zip(ts.column("term").to_pylist(),
                                ts.column("df").to_pylist(),
                                ts.column("cf").to_pylist()):
            if term in stats:
                bad("term_stats", f"{term!r} listed twice")
            stats[term] = (int(df), int(cf))
    for term, (df, cf) in sums.items():
        if stats.get(term) != (df, cf):
            bad("term_stats", f"{term!r}: stored {stats.get(term)} vs sum "
                f"over parts {(df, cf)}")
    for term in stats.keys() - sums.keys():
        bad("term_stats", f"{term!r}: stored {stats[term]} but no postings")

    if oracle is not None:
        if lay.n_docs != oracle.n_docs:
            bad("oracle", f"n_docs {lay.n_docs} vs oracle {oracle.n_docs}")
        want = oracle.term_stats()
        for term in want.keys() | stats.keys():
            if stats.get(term) != want.get(term):
                bad("oracle", f"{term!r}: (df, cf) {stats.get(term)} vs "
                    f"oracle {want.get(term)}")
        cf_total = sum(c for _d, c in stats.values())
        cf_want = sum(c for _d, c in want.values())
        if cf_total != cf_want:
            bad("totals", f"sum cf {cf_total} vs oracle {cf_want}")
        if int(doc_dl.sum()) != oracle.total_dl:
            bad("totals", f"sum dl {int(doc_dl.sum())} vs oracle "
                f"{oracle.total_dl}")
    lay.__dict__["counts"] = {"posting_rows": n_rows,
                              "posting_entries": n_entries,
                              "terms": len(stats)}
    return [m for ms in errs.values() for m in ms]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


# --------------------------------------------------------------------------
# planted faults for the self-test


def plant_swap(path: str) -> str:
    """Swap two doc ids inside one posting list of a flat index."""
    for f in parquet_files(f"{path}/postings"):
        t = pq.read_table(f)
        dfs = t.column("df").to_pylist()
        row = next((i for i, d in enumerate(dfs) if d >= 3), None)
        if row is None:
            continue
        bins = t.column("docs_bin").to_pylist()
        docs = decode_docs(bins[row]).copy()
        docs[0], docs[1] = docs[1], docs[0]
        deltas = np.diff(docs, prepend=0).astype(np.int64).view(np.uint64)
        bins[row] = varint_encode(deltas)
        i = t.schema.get_field_index("docs_bin")
        pq.write_table(t.set_column(i, "docs_bin",
                                    pa.array(bins, pa.binary())), f)
        return f"{t.column('term')[row]}"
    raise ValueError("no posting list with df >= 3")


def plant_df(path: str) -> str:
    """Raise the df of one posting row by 1."""
    f = parquet_files(f"{path}/postings")[0]
    t = pq.read_table(f)
    dfs = t.column("df").to_pylist()
    dfs[0] += 1
    i = t.schema.get_field_index("df")
    pq.write_table(t.set_column(i, "df", pa.array(dfs, pa.int64())), f)
    return t.column("term")[0].as_py()


def plant_drop_doc(path: str) -> str:
    """Delete one document's doc_stats row."""
    f = parquet_files(f"{path}/doc_stats")[0]
    t = pq.read_table(f)
    victim = t.column("id")[0].as_py()
    pq.write_table(t.filter(pc.not_equal(t.column("id"), victim)), f)
    return victim
