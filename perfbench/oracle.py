"""Brute-force BM25 referee, independent of the program's index.

Lucene BM25 with k1=1.2, b=0.75 over exact document lengths:

    idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t, d) = tf / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d)  = sum over analyzed query tokens t of idf(t) * tfn(t, d)

Only tokenization comes from the program (``functions.analyzers``: the
index-side ``code`` chain and the query-side ``code_search`` chain).
Skip rules, upsert order, statistics, scoring, filters and ranking are
re-implemented here from the reference's rules: a blob is skipped when
it is larger than 1 MiB or has a NUL byte in its first 8 KiB, and the
document id is ``repo + "_" + path`` with the last write winning.
"""

from __future__ import annotations

import hashlib
import math

K1 = 1.2
B = 0.75
LIMIT_FILE_SIZE = 1024 * 1024
BINARY_SNIFF = 8 * 1024
RTOL = 1e-9


def indexable(content: str) -> bool:
    raw = content.encode("utf-8")
    return len(raw) <= LIMIT_FILE_SIZE and b"\x00" not in raw[:BINARY_SNIFF]


def latest_rows(rows: list[tuple]) -> dict[str, tuple]:
    """id -> winning (repo, path, commit, lang, content) among indexable
    rows.  Last write wins; with no ingest order, the later write is the
    greater (commit, sha256(content)) pair."""
    best: dict[str, tuple] = {}
    for row in rows:
        repo, path, commit, _lang, content = row
        if not indexable(content):
            continue
        doc_id = f"{repo}_{path}"
        key = (commit, hashlib.sha256(content.encode("utf-8")).hexdigest())
        cur = best.get(doc_id)
        if cur is None or key > cur[0]:
            best[doc_id] = (key, row)
    return {d: r for d, (_k, r) in best.items()}


def analyze_all(contents: list[str]) -> list[tuple[dict, int]]:
    """code-analyzer (tf, dl) per content."""
    from gitlab_elasticsearch_indexer_spark.functions.analyzers import (
        code_analyze_tf,
    )

    return [code_analyze_tf(c) for c in contents]


class Oracle:
    """Mutable brute-force index: add and remove documents, then score."""

    def __init__(self) -> None:
        self.docs: dict[str, dict] = {}     # id -> {repo, lang, tf, dl, bytes}
        self.postings: dict[str, dict[str, int]] = {}
        self.total_dl = 0

    @classmethod
    def from_rows(cls, rows: list[tuple]) -> "Oracle":
        o = cls()
        o.upsert(rows)
        return o

    def upsert(self, rows: list[tuple]) -> None:
        latest = latest_rows(rows)
        ids = sorted(latest)
        analyzed = analyze_all([latest[d][4] for d in ids])
        for doc_id, (tf, dl) in zip(ids, analyzed):
            self.remove([doc_id])
            repo, _path, _commit, lang, content = latest[doc_id]
            self.docs[doc_id] = {"repo": repo, "lang": lang, "tf": tf,
                                 "dl": dl,
                                 "bytes": len(content.encode("utf-8"))}
            self.total_dl += dl
            for term, n in tf.items():
                self.postings.setdefault(term, {})[doc_id] = n

    def remove(self, ids) -> None:
        for doc_id in ids:
            doc = self.docs.pop(doc_id, None)
            if doc is None:
                continue
            self.total_dl -= doc["dl"]
            for term in doc["tf"]:
                plist = self.postings[term]
                del plist[doc_id]
                if not plist:
                    del self.postings[term]

    @property
    def n_docs(self) -> int:
        return len(self.docs)

    def term_stats(self) -> dict[str, tuple[int, int]]:
        return {t: (len(p), sum(p.values())) for t, p in self.postings.items()}

    def source_bytes(self) -> int:
        return sum(d["bytes"] for d in self.docs.values())

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def scores(self, query: str, lang=None, repo=None,
               operator: str = "or") -> dict[str, float]:
        from gitlab_elasticsearch_indexer_spark.functions.analyzers import (
            code_search_analyze,
        )

        terms = code_search_analyze(query)
        n = self.n_docs
        avgdl = self.total_dl / n if n else 0.0
        out: dict[str, float] = {}
        for t in terms:
            plist = self.postings.get(t)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for doc_id, tf in plist.items():
                norm = K1 * (1.0 - B + B * self.docs[doc_id]["dl"] / avgdl)
                out[doc_id] = out.get(doc_id, 0.0) + idf * tf / (tf + norm)
        if operator == "and":
            need = set(terms)
            out = {d: s for d, s in out.items()
                   if all(d in self.postings.get(t, ()) for t in need)}
        if lang is not None:
            out = {d: s for d, s in out.items() if self.docs[d]["lang"] == lang}
        if repo is not None:
            out = {d: s for d, s in out.items() if self.docs[d]["repo"] == repo}
        return out

    @staticmethod
    def terms(query: str) -> set[str]:
        from gitlab_elasticsearch_indexer_spark.functions.analyzers import (
            code_search_analyze,
        )

        return set(code_search_analyze(query))

    def entries_scanned(self, query: str) -> int:
        return sum(self.df(t) for t in self.terms(query))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= RTOL * max(abs(a), abs(b), 1e-300)


def compare_topk(got: list[tuple[str, float]], expected: dict[str, float],
                 k: int) -> str | None:
    """None when ``got`` is a correct top-k of ``expected``, else why not.

    Scores must agree within RTOL id by id; every doc scoring above the
    k-th score must be present; docs tied with the k-th score at the
    boundary are compared as a set (any subset of them may fill it)."""
    ranked = sorted(expected.items(), key=lambda x: (-x[1], x[0]))
    want = min(k, len(ranked))
    if len(got) != want:
        return f"{len(got)} hits, expected {want}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate ids in hits"
    for i, (doc_id, score) in enumerate(got):
        ref = expected.get(doc_id)
        if ref is None:
            return f"rank {i + 1}: {doc_id} is not a hit"
        if not _close(score, ref):
            return f"rank {i + 1}: {doc_id} score {score!r} != {ref!r}"
        if not _close(score, ranked[i][1]):
            return f"rank {i + 1}: score {score!r} != {ranked[i][1]!r}"
    if want:
        kth = ranked[want - 1][1]
        got_ids = {d for d, _ in got}
        for doc_id, s in ranked:
            if s > kth and not _close(s, kth) and doc_id not in got_ids:
                return f"missing {doc_id} (score {s!r})"
    return None
