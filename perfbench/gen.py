"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files and the same request schedule.

- ``write_catalog`` writes the ten catalog tables (the TPC-H-ish star
  schema, ``events``, ``documents`` and ``embeddings``) in the layout the
  catalog queries read: one parquet file per table, one row group, the
  same column names and Arrow types. The catalog oracle digests are
  computed over the tables of ``CATALOG_SEED``.
- ``write_u_item`` writes a MovieLens-100k-shaped ``u.item`` corpus whose
  titles draw their words from a Zipf vocabulary.
- ``poisson_schedule`` draws an open-loop Poisson schedule over that
  corpus with the serving request mix; ``request_sequence`` the same mix
  without due times, for closed-loop clients.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The catalog tables are fixed: their oracle answers are stored as
# digests. The run seed only orders the queries.
CATALOG_SEED = 20261017
# Row counts: the smallest driver scale (sf0.001), so a pass fits the
# benchmark's time budget; the queries stay job- and plan-bound here.
CATALOG_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DOC_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
_LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``[lo, hi)``."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    days = rng.integers(a, b, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(days, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int = CATALOG_SEED) -> dict[str, pa.Table]:
    """The ten catalog tables as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = CATALOG_ROWS
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), s),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), i64),
            "p_name": pa.array(rng.choice(names, npart), s),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], s),
            "p_type": pa.array(rng.choice(_PART_TYPES, npart), s),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": pa.array(
                [round(900.0 + (k % 1000) * 0.1, 2) for k in range(npart)], f64
            ),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), no), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), f64),
            "o_orderdate": _ts(rng, no, "1995-01-01", "2001-08-02"),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), s),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), nl), s),
            "l_linestatus": pa.array(rng.choice(("F", "O"), nl), s),
            "l_shipdate": _ts(rng, nl, "1995-01-02", "2001-11-05"),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), i64),
            "ts": pa.array((start + np.cumsum(gaps)).astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 50, ne), i64),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), s),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2) + 0.01, f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
        }
    )
    nd = n["documents"]
    texts: list[str] = []
    for k in range(nd):
        # about one document in ten copies an earlier one, sometimes with
        # trailing " dup" tokens: the near-duplicates the dedup queries find
        if k > 10 and rng.random() < 0.1:
            text = texts[int(rng.integers(0, k))] + " dup" * int(rng.integers(0, 3))
        else:
            text = " ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100))))
        texts.append(text)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(_LANGS, nd), s),
            "source": pa.array([f"src{k % 20}" for k in range(nd)], s),
            "n_chars": pa.array([len(x) for x in texts], i64),
        }
    )
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), i32),
        }
    )
    return t


def write_catalog(out_dir: str, seed: int = CATALOG_SEED) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every catalog table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- serving corpus ----------------------------------------------------

N_MOVIES = 1682  # MovieLens-100k's u.item
N_GENRES = 19
_SYLLABLES = (
    "ba", "ro", "ki", "ne", "sta", "lo", "mar", "ti", "do", "ven", "gal", "sun",
    "da", "mi", "tor", "el", "ka", "shi", "ran", "vo", "li", "pe", "zan", "qu",
)


@dataclass(frozen=True)
class Corpus:
    titles: tuple[str, ...]  # index i is movieId i + 1
    vocab: tuple[str, ...]  # title words, most frequent first
    genres: tuple[tuple[int, ...], ...]  # genre flags of each title
    # title indices by the /recommend branch they take: a unique title
    # with genres, one without (keyword fallback), one whose phrase also
    # matches another title (the disambiguation answer)
    plain: tuple[int, ...]
    no_genre: tuple[int, ...]
    ambiguous: tuple[int, ...]


def _vocab(rng: np.random.Generator, n: int) -> tuple[str, ...]:
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES, int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return tuple(words)


def _zipf_index(rng: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks**-a
    return rng.choice(n, size=size, p=p / p.sum())


def make_corpus(seed: int) -> Corpus:
    """Titles of 1–4 Zipf-drawn words and a year; about one movie in
    twenty has no genre."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng, 400)
    titles: list[str] = []
    seen: set[str] = set()
    while len(titles) < N_MOVIES:
        words = [vocab[i] for i in _zipf_index(rng, len(vocab), int(rng.integers(1, 5)))]
        year = int(rng.integers(1930, 1999))
        title = " ".join(w.capitalize() for w in words) + f" ({year})"
        if title not in seen:
            seen.add(title)
            titles.append(title)
    rng = np.random.default_rng([seed, 2])
    genres = []
    for _ in titles:
        flags = np.zeros(N_GENRES, dtype=int)
        if rng.random() >= 0.05:
            flags[1 + rng.choice(N_GENRES - 1, int(rng.integers(1, 4)), replace=False)] = 1
        genres.append(tuple(int(f) for f in flags))
    # a title phrase-matches another when its words and year end that
    # title (the year is every title's last token)
    tokens = [tuple(t.lower().replace("(", "").replace(")", "").split()) for t in titles]
    suffixes: dict[tuple, int] = {}
    for tok in tokens:
        for i in range(len(tok) - 1):
            suffixes[tok[i:]] = suffixes.get(tok[i:], 0) + 1
    ambiguous = tuple(i for i, tok in enumerate(tokens) if suffixes[tok] > 1)
    amb = set(ambiguous)
    plain = tuple(i for i, g in enumerate(genres) if any(g) and i not in amb)
    no_genre = tuple(i for i, g in enumerate(genres) if not any(g) and i not in amb)
    return Corpus(titles=tuple(titles), vocab=vocab, genres=tuple(genres),
                  plain=plain, no_genre=no_genre, ambiguous=ambiguous)


def write_u_item(path: str, seed: int) -> Corpus:
    """Write a pipe-separated 24-column ``u.item`` file and return its
    corpus. About one movie in twenty has no genre, which sends
    ``/recommend`` down the title-keyword fallback."""
    corpus = make_corpus(seed)
    rng = np.random.default_rng([seed, 6])
    base = dt.date(1990, 1, 1)
    lines = []
    for i, (title, flags) in enumerate(zip(corpus.titles, corpus.genres)):
        day = base + dt.timedelta(days=int(rng.integers(0, 3000)))
        release = day.strftime("%d-%b-%Y")
        url = "http://us.imdb.com/M/title-exact?" + title.replace(" ", "%20")
        lines.append("|".join([str(i + 1), title, release, "", url] + [str(f) for f in flags]))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return corpus


# --- serving schedule --------------------------------------------------

# /search, /recommend, /movie, /health
MIX = (("search", 0.50), ("recommend", 0.30), ("movie", 0.15), ("health", 0.05))


@dataclass(frozen=True)
class Request:
    due: float  # seconds after the phase starts
    endpoint: str
    arg: tuple  # hashable request arguments (see ``payload``)

    def payload(self):
        """The argument the endpoint function takes."""
        if self.endpoint == "search":
            q, page = self.arg
            return {"q": q, "page": str(page), "size": "10"}
        if self.endpoint == "recommend":
            return {"title": self.arg[0]}
        if self.endpoint == "movie":
            return str(self.arg[0])
        return None


def _typo(rng: np.random.Generator, word: str) -> str:
    """One edit: substitute, delete or insert a letter (never empty)."""
    i = int(rng.integers(0, len(word)))
    c = chr(ord("a") + int(rng.integers(0, 26)))
    kind = int(rng.integers(0, 3))
    if kind == 0:
        return word[:i] + c + word[i + 1 :]
    if kind == 1 and len(word) > 3:
        return word[:i] + word[i + 1 :]
    return word[:i] + c + word[i:]


def draw_request(
    rng: np.random.Generator, corpus: Corpus, due: float, endpoint: str | None = None, k: int = 0
) -> Request:
    """One request; its endpoint is drawn from ``MIX`` unless given. The
    ``k``-th request of an endpoint takes a shape fixed by ``k``, so every
    schedule carries the same shares of shapes, and of the branches (and
    Spark jobs) they take: a search has ``1 + k % 2`` words, a 1-edit
    typo when ``k % 4 == 3`` and page ``1 + (k // 2) % 2``, its words
    drawn (Zipf) from the 25 most frequent, or when ``k % 8 >= 6`` from
    ranks 100 and below, whose page 2 is mostly empty; a recommend asks
    for a title of ``Corpus.ambiguous`` when ``k % 10 == 4``, of
    ``Corpus.no_genre`` when ``k % 10 == 9``, else of ``Corpus.plain``.
    The words, titles and ids are drawn."""
    if endpoint is None:
        r = rng.random()
        acc = 0.0
        endpoint = MIX[-1][0]
        for name, share in MIX:
            acc += share
            if r < acc:
                endpoint = name
                break
    if endpoint == "search":
        lo, hi = (100, len(corpus.vocab)) if k % 8 >= 6 else (0, 25)
        words = [corpus.vocab[lo + i] for i in _zipf_index(rng, hi - lo, 1 + k % 2)]
        if k % 4 == 3:
            j = int(rng.integers(0, len(words)))
            words[j] = _typo(rng, words[j])
        return Request(due, "search", (" ".join(words), 1 + (k // 2) % 2))
    if endpoint == "recommend":
        pool = {4: corpus.ambiguous, 9: corpus.no_genre}.get(k % 10) or corpus.plain
        return Request(due, "recommend", (corpus.titles[pool[int(rng.integers(0, len(pool)))]],))
    if endpoint == "movie":
        return Request(due, "movie", (int(rng.integers(1, N_MOVIES + 1)),))
    return Request(due, "health", ())


def mix_counts(n: int) -> list[str]:
    """``n`` endpoint names in ``MIX`` proportions (largest remainder)."""
    raw = [(name, share * n) for name, share in MIX]
    counts = {name: int(x) for name, x in raw}
    rest = sorted(raw, key=lambda t: t[1] - int(t[1]), reverse=True)
    for name, _ in rest[: n - sum(counts.values())]:
        counts[name] += 1
    return [name for name, _ in MIX for _ in range(counts[name])]


def request_sequence(seed: int, corpus: Corpus, n: int, stream: int, dues=None) -> list[Request]:
    """``n`` requests carrying the request mix in exact proportions, in a
    seeded order; due times ``dues`` (default 0)."""
    rng = np.random.default_rng([seed, 3, stream])
    kinds = mix_counts(n)
    rng.shuffle(kinds)
    out: list[Request] = []
    for i, kind in enumerate(kinds):
        due = float(dues[i]) if dues is not None else 0.0
        out.append(draw_request(rng, corpus, due, kind, sum(r.endpoint == kind for r in out)))
    return out


def poisson_schedule(
    seed: int, corpus: Corpus, rate: float, seconds: float, stream: int
) -> list[Request]:
    """Open-loop Poisson arrivals at ``rate`` per second for ``seconds``,
    conditioned on their count: exactly ``round(rate * seconds)`` due
    times drawn uniformly (which is how a Poisson process with that many
    arrivals spreads them), carrying the request mix in exact
    proportions. Runs with different seeds thus offer the same load and
    mix; the arrival times and arguments differ."""
    n = max(1, int(round(rate * seconds)))
    dues = np.sort(np.random.default_rng([seed, 5, stream]).uniform(0.0, seconds, n))
    return request_sequence(seed, corpus, n, stream, dues)


def distinct_requests(
    seed: int, corpus: Corpus, n: int, stream: int, kinds: list[str] | None = None
) -> list[Request]:
    """``n`` distinct requests (due time 0): of the endpoints ``kinds``
    in order when given, else drawn from the serving mix."""
    rng = np.random.default_rng([seed, 4, stream])
    out: list[Request] = []
    seen: set[tuple] = set()
    per: dict[str | None, int] = {}
    while len(out) < n:
        kind = kinds[len(out)] if kinds else None
        r = draw_request(rng, corpus, 0.0, kind, per.get(kind, 0))
        key = (r.endpoint, r.arg)
        if key not in seen or (kinds and r.endpoint == "health"):
            seen.add(key)
            out.append(r)
            per[kind] = per.get(kind, 0) + 1
    return out
