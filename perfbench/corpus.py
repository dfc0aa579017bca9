"""Seeded synthetic inputs for the benchmark: the source table, the
query stream and the change batches.

Everything is a pure function of ``--seed`` (numpy PCG64) and of the
constant seeds below, so the same seed gives the same inputs.  The
program under test receives only the ``(repo, path, commit, lang,
content)`` parquet table this module writes, plus change batches of the
same shape; nothing here imports the program's own fixture or oracle
modules.

The store and the push of the ``update`` workload are the same for
every seed (STORE_SEED, PUSH_SEED): the push's checks fail on every run
because of a known fault of the program, and a failure that is
counted as known must not depend on the seed.  The push modifies and
deletes documents in two of the store's five doc parts, as a push to a
few repositories does.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_REPOS = 12
REPOS = [f"repo-{i:02d}" for i in range(N_REPOS)]
PUSH_SEED = 424242      # constant: push contents are seed-independent
QUERY_SEED = 0x5EED     # constant: the query stream is seed-independent
STORE_SEED = 0x5702E    # constant: the update store is seed-independent
MIN_LINES, MAX_LINES = 4, 60

_KEYWORDS = ["if", "return", "def", "end", "class", "import", "for",
             "while", "else", "self", "nil", "true", "false", "func",
             "var", "let", "try", "catch", "yield", "async"]
_VERBS = ["get", "set", "build", "parse", "index", "merge", "read",
          "write", "fetch", "submit", "flush", "encode", "detect", "split",
          "score", "load", "save", "find", "scan", "emit"]
_NOUNS = ["User", "Blob", "Commit", "Repo", "Index", "Token", "Query",
          "Batch", "Doc", "Posting", "Term", "File", "Path", "Shard",
          "Score", "Cache", "Stream", "Block", "Node", "Table"]
_TAILS = ["", "ById", "ByName", "Async", "V2", "Impl", "Helper", "List"]
LANGS = [("Python", ".py"), ("Ruby", ".rb"), ("Go", ".go"),
         ("JavaScript", ".js"), ("Java", ".java"), ("C", ".c"),
         ("Markdown", ".md"), ("YAML", ".yml")]
_DIRS = ["src", "lib", "app", "internal", "pkg", "cmd", "test", "docs"]


def _vocab() -> list[str]:
    """Identifier classes the code analyzer's capture patterns act on:
    keywords, camelCase/PascalCase, snake_case, ALLCAPS, digit runs,
    quoted strings, dotted and slashed paths, accented words."""
    v = list(_KEYWORDS)
    v += [f"{a}{n}{t}" for a in _VERBS for n in _NOUNS for t in _TAILS[:4]]
    v += [f"{a}_{n.lower()}_{t.lower() or 'impl'}"
          for a in _VERBS[:10] for n in _NOUNS[:10] for t in _TAILS[:2]]
    v += [f"{n.upper()}_LIMIT" for n in _NOUNS]
    v += [f"{n}Record" for n in _NOUNS]
    v += [f"x{i}" for i in range(60)]
    v += [f'"msg{i}"' for i in range(30)]
    v += [f"'lit{i}'" for i in range(30)]
    v += [f"pkg.mod{i}.attr" for i in range(40)]
    v += [f"src/util{i}/mod.py" for i in range(40)]
    v += ["café", "naïve", "Größe", "Ærø"]
    return v


VOCAB = _vocab()
_ranks = np.arange(len(VOCAB), dtype=np.float64)
ZIPF = 1.0 / np.power(_ranks + 2.0, 1.1)
ZIPF /= ZIPF.sum()
_VOCAB_ARR = np.array(VOCAB, dtype=object)


def _hex40(rng: np.random.Generator) -> str:
    return rng.bytes(20).hex()


def _contents(rng: np.random.Generator, n: int, rare: str) -> list[str]:
    """``n`` source-like texts: Zipf-drawn tokens on indented lines, with
    a sprinkle of rare identifiers (the long vocabulary tail).  All draws
    are vectorized; only the string joins loop."""
    n_lines = rng.integers(MIN_LINES, MAX_LINES + 1, size=n)
    n_tot = int(n_lines.sum())
    per_line = rng.integers(1, 12, size=n_tot)
    words = _VOCAB_ARR[rng.choice(len(VOCAB), size=int(per_line.sum()),
                                  p=ZIPF)]
    has_rare = rng.random(n_tot) < 0.08
    rare_ids = rng.integers(0, 5000, size=n_tot)
    indent = rng.integers(0, 4, size=n_tot)
    ends = np.cumsum(per_line)
    lines = []
    for j in range(n_tot):
        line = "    " * int(indent[j]) + " ".join(
            words[ends[j] - per_line[j]:ends[j]])
        if has_rare[j]:
            line += f" {rare}{int(rare_ids[j])}Value"
        lines.append(line)
    bounds = np.concatenate(([0], np.cumsum(n_lines)))
    return ["\n".join(lines[bounds[i]:bounds[i + 1]]) for i in range(n)]


def _files(rng: np.random.Generator, repos: list[str], first: int) -> list[tuple]:
    n = len(repos)
    langs = rng.integers(0, len(LANGS), size=n)
    dirs = rng.integers(0, len(_DIRS), size=(n, 2))
    commits = rng.bytes(20 * n).hex()
    texts = _contents(rng, n, "rare")
    out = []
    for i in range(n):
        lang, ext = LANGS[int(langs[i])]
        path = f"{_DIRS[dirs[i, 0]]}/{_DIRS[dirs[i, 1]]}/f{first + i:05d}{ext}"
        out.append((repos[i], path, commits[40 * i:40 * i + 40], lang,
                    texts[i]))
    return out


def special_rows(rng: np.random.Generator) -> list[tuple]:
    """Rows the reference's skip rules and upsert act on."""
    nul = chr(0)
    big = "if " * (1024 * 1024 // 3 + 8)          # > 1 MiB: skipped
    early = "def x1\n" + nul + "return"            # NUL < 8 KiB: skipped
    late = ("return getUser " * 700)[:9000] + nul + " tail"  # kept
    return [
        ("repo-00", "bin/big.txt", _hex40(rng), "Text", big),
        ("repo-01", "bin/big2.txt", _hex40(rng), "Text", big + "x"),
        ("repo-00", "bin/early.dat", _hex40(rng), "Text", early),
        ("repo-02", "bin/early2.dat", _hex40(rng), "Text", nul),
        ("repo-01", "bin/late.dat", _hex40(rng), "Text", late),
        ("repo-03", "empty/empty.txt", _hex40(rng), "Text", ""),
    ]


def source_rows(seed: int, n_files: int) -> list[tuple]:
    """The seeded corpus: ``n_files`` files over N_REPOS repos
    (Zipf-sized), the skip-rule rows and 20 paths written at two commits
    (the later commit, by ``commit`` order, must win)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    w = 1.0 / np.arange(1, N_REPOS + 1)
    repos = rng.choice(N_REPOS, size=n_files, p=w / w.sum())
    rows = _files(rng, [REPOS[int(r)] for r in repos], 0)
    rows += special_rows(rng)
    dup = rng.choice(n_files, size=20, replace=False)
    for j, text in zip(dup, _contents(rng, len(dup), "dup")):
        repo, path, _c, lang, _old = rows[int(j)]
        rows.append((repo, path, _hex40(rng), lang, text))
    return rows


SCHEMA = pa.schema([("repo", pa.string()), ("path", pa.string()),
                    ("commit", pa.string()), ("lang", pa.string()),
                    ("content", pa.string())])


def write_source(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows))
    table = pa.table({f.name: list(c) for f, c in zip(SCHEMA, cols)},
                     schema=SCHEMA)
    pq.write_table(table, path)


# --------------------------------------------------------------------------
# query stream


def identifier_parts(ident: str) -> list[str]:
    out, cur = [], ""
    for ch in ident:
        if ch.isupper() and cur:
            out.append(cur)
            cur = ch
        else:
            cur += ch
    return out + ([cur] if cur else [])


QUERY_CLASSES = ("hot", "single", "or", "ident", "part", "prefix", "and",
                 "lang", "repo", "zero")


def query_stream(n: int) -> list[dict]:
    """``n`` query specs, cycling through QUERY_CLASSES so every class
    has the same share in any whole number of cycles.  The stream is the
    same for every seed: with a seeded stream, the median latency of two
    seeds run back to back differed by about 30 %, more than the
    run-to-run changes the benchmark is there to show."""
    rng = np.random.Generator(np.random.PCG64(QUERY_SEED))
    camel = [t for t in VOCAB if t[:1].islower() and any(c.isupper() for c in t)]

    def zipf_term():
        return VOCAB[int(rng.choice(len(VOCAB), p=ZIPF))]

    out = []
    for i in range(n):
        cls = QUERY_CLASSES[i % len(QUERY_CLASSES)]
        spec: dict = {"cls": cls, "lang": None, "repo": None,
                      "operator": "or"}
        if cls == "hot":
            spec["q"] = ["if", "return"][int(rng.integers(0, 2))]
        elif cls == "single":
            spec["q"] = zipf_term()
        elif cls == "or":
            spec["q"] = " ".join(zipf_term()
                                 for _ in range(int(rng.integers(2, 5))))
        elif cls == "ident":
            spec["q"] = camel[int(rng.integers(0, len(camel)))]
        elif cls == "part":
            ident = camel[int(rng.integers(0, len(camel)))]
            parts = identifier_parts(ident)
            spec["q"] = parts[int(rng.integers(1, len(parts)))]
        elif cls == "prefix":
            word = camel[int(rng.integers(0, len(camel)))]
            spec["q"] = word[: int(rng.integers(2, 5))]
        elif cls == "and":
            spec["q"] = " ".join(zipf_term()
                                 for _ in range(int(rng.integers(2, 4))))
            spec["operator"] = "and"
        elif cls == "lang":
            spec["q"] = zipf_term()
            spec["lang"] = LANGS[int(rng.integers(0, len(LANGS)))][0]
        elif cls == "repo":
            spec["q"] = zipf_term()
            spec["repo"] = REPOS[int(rng.integers(0, N_REPOS))]
        else:  # zero: a term no document contains
            spec["q"] = f"zzq{int(rng.integers(0, 10**6))}nohit"
        unfiltered = (spec["lang"] is None and spec["repo"] is None
                      and spec["operator"] == "or")
        spec["mode"] = "bmw" if unfiltered else "exhaustive"
        out.append(spec)
    return out


# --------------------------------------------------------------------------
# change batches for the update workload


N_PUSH_MODIFY = 16
N_PUSH_DELETE = 12
N_PUSH_ADD = 8
# the modified and deleted documents sit at these positions of the
# sorted ids: doc parts 1 and 2 of the store (the program packs 1,024
# documents a part at this size and numbers documents in id order)
PUSH_SPAN = (1024, 3072)


def push_batch(live: dict[str, tuple]) -> tuple[list[tuple], list[tuple]]:
    """One push over the live documents ``live`` (id -> row): modifies
    N_PUSH_MODIFY and deletes N_PUSH_DELETE of the documents at evenly
    spaced positions of PUSH_SPAN in the sorted ids (four modifies, then
    three deletes, in turn), and adds N_PUSH_ADD new files.  New
    contents and commits come from PUSH_SEED.  Returns (upsert rows,
    deleted (repo, path) keys)."""
    rng = np.random.Generator(np.random.PCG64(PUSH_SEED))
    ids = sorted(live)
    lo, hi = PUSH_SPAN
    n_changed = N_PUSH_MODIFY + N_PUSH_DELETE
    picked = [live[ids[lo + (2 * i + 1) * (hi - lo) // (2 * n_changed)]]
              for i in range(n_changed)]
    mod = [r for i, r in enumerate(picked) if i % 7 < 4]
    dele = [r for i, r in enumerate(picked) if i % 7 >= 4]
    texts = _contents(rng, N_PUSH_MODIFY + N_PUSH_ADD, "push")
    ups = [(r, p, _hex40(rng), lang, t)
           for (r, p, _c, lang, _x), t in zip(mod, texts)]
    ups += [("repo-00", f"pushed/n{i:03d}.go", _hex40(rng), "Go", t)
            for i, t in enumerate(texts[N_PUSH_MODIFY:])]
    return ups, [(r, p) for r, p, *_ in dele]
