"""Seeded input generator for the benchmark.

Everything the benchmark feeds the program is a pure function of the seed:

- ``write_tables`` writes the fixture tables (TPC-H-shaped dimensions and
  facts, ``events``, ``documents``, ``embeddings``) with the schemas of the
  sf* fixtures the catalog queries are written against. Money columns carry
  exactly two decimals, as the catalog's integer-cents plans assume.
- ``documents`` draws from the fixture's 31-word vocabulary plus a Zipf long
  tail and per-language marker words, and plants a set share of near
  duplicates (about 5% of tokens replaced) and exact duplicates.
- ``Site`` is the synthetic crawl site: page ``i`` and its out-links are a
  pure function of ``(seed, i)``, served by an in-process transport, so no
  network is touched.

The same seed gives byte-identical parquet files (tests check this).
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the sf* fixtures' document vocabulary (30 uniform words plus "dup")
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan "
    "batch dup"
).split()
# marker words of text_analysis.LANG_LEXICON not already in VOCAB
LANG_MARKERS = {
    "en": ("the", "a"),
    "de": ("der", "und"),
    "es": ("el", "la"),
    "fr": ("le", "et"),
    "zh": ("de5", "shi4"),
}
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
TAIL_WORDS = 5000

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so resizing one table leaves the
    others' bytes unchanged."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


# ------------------------------------------------------------- documents


def documents(seed: int, n_docs: int, near_dup: float = 0.2, exact_dup: float = 0.05):
    """(table, planted) — the documents table and its planted-duplicate counts.

    Originals are drawn token by token; then a ``near_dup`` share of rows
    copies an earlier original with ~5% of its tokens replaced and an
    ``exact_dup`` share copies one byte for byte. Rows are shuffled so the
    copies are spread over doc ids (doc_id < 50 plays q86's benchmark set).
    """
    rng = _rng(seed, "documents")
    n_near = int(n_docs * near_dup)
    n_exact = int(n_docs * exact_dup)
    n_orig = n_docs - n_near - n_exact
    tail_p = 1.0 / np.arange(1, TAIL_WORDS + 1) ** 1.1
    tail_p /= tail_p.sum()
    vocab = np.array(VOCAB[:-1])  # "dup" is planted below, as in the fixture

    langs = rng.choice(len(LANGS), n_orig, p=LANG_P)
    lengths = rng.integers(15, 100, n_orig)
    total = int(lengths.sum())
    kind = rng.random(total)
    core = vocab[rng.integers(0, len(vocab), total)]
    tail = np.array([f"t{i}" for i in range(TAIL_WORDS)])[rng.choice(TAIL_WORDS, total, p=tail_p)]
    marker_pick = rng.integers(0, 2, total)
    tok_lang = np.repeat(langs, lengths)
    markers = np.array([LANG_MARKERS[g] for g in LANGS])[tok_lang, marker_pick]
    toks = np.where(kind < 0.70, core, np.where(kind < 0.94, tail, markers))
    toks = np.where(rng.random(total) < 0.002, "dup", toks)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [list(toks[bounds[i] : bounds[i + 1]]) for i in range(n_orig)]
    doc_lang = [LANGS[g] for g in langs]

    for _ in range(n_near):
        src = int(rng.integers(0, n_orig))
        words = list(texts[src])
        n_rep = max(1, int(round(0.05 * len(words))))
        for pos in rng.choice(len(words), n_rep, replace=False):
            words[pos] = f"t{int(rng.integers(0, TAIL_WORDS))}"
        texts.append(words)
        doc_lang.append(doc_lang[src])
    for _ in range(n_exact):
        src = int(rng.integers(0, n_orig))
        texts.append(texts[src])
        doc_lang.append(doc_lang[src])

    order = rng.permutation(n_docs)
    text_col = [" ".join(texts[i]) for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(text_col, pa.string()),
            "lang": pa.array([doc_lang[i] for i in order], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in text_col], pa.int64()),
        }
    )
    planted = {"near_dup_docs": n_near, "exact_dup_docs": n_exact, "original_docs": n_orig}
    return table, planted


# ---------------------------------------------------------------- tables


def write_tables(out_dir: str, seed: int, n_orders: int, n_docs: int) -> dict:
    """Write every fixture table into ``out_dir``; returns the input sizes
    (rows per table, bytes on disk, planted duplicates)."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, n_orders // 10)
    n_supp = max(10, n_orders // 150)
    n_part = max(10, n_orders // 8)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)]),
    }), f"{out_dir}/customer.parquet")

    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")

    r = _rng(seed, "part")
    adj = np.array(["large", "hot", "small", "green", "frosted"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe"])
    types = np.array(["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj[r.integers(0, 5, n_part)], " "),
                                       noun[r.integers(0, 5, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(_money(r, 900.0, 2000.0, n_part)),
    }), f"{out_dir}/part.parquet")

    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 450000.0, n_orders)),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2404, n_orders)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_orders)]),
    }), f"{out_dir}/orders.parquet")

    r = _rng(seed, "lineitem")
    per_order = r.integers(1, 8, n_orders)
    n_li = int(per_order.sum())
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_orders), per_order), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]),
                                 pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2498, n_li)),
    }), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, "events")
    n_ev = n_orders // 2
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + r.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(r.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
        "value": pa.array(_money(r, 0.0, 560.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")

    r = _rng(seed, "embeddings")
    n_vec = max(50, n_orders // 75)
    vecs = r.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    docs, planted = documents(seed, n_docs)
    _write(docs, f"{out_dir}/documents.parquet")
    return input_sizes(out_dir) | {"planted": planted}


def input_sizes(out_dir: str) -> dict:
    sizes = {}
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            path = f"{out_dir}/{name}"
            sizes[name[: -len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "bytes": os.path.getsize(path),
            }
    return {"tables": sizes}


# ------------------------------------------------------------ crawl site

HOST = "https://en.wikipedia.org"
_PAGE_RE = re.compile(r"^https://en\.wikipedia\.org/wiki/P(\d+)$")
LAST_MODIFIED = "Mon, 01 Jan 2024 10:00:00 GMT"


def _mix(*parts: int) -> int:
    """Deterministic 64-bit hash of integers (stable across processes,
    unlike ``hash``)."""
    digest = hashlib.blake2b(b"".join(p.to_bytes(8, "little") for p in parts), digest_size=8)
    return int.from_bytes(digest.digest(), "little")


class Site:
    """Synthetic crawl site: ``n_pages`` pages on en.wikipedia.org laid out
    as an 8-ary tree (page ``i`` links to pages ``8i+1 .. 8i+8``), so the
    crawl's round count is the tree depth for every seed. Leaves link to
    ``out_degree`` pages drawn from ``(seed, page)``. Each link is written
    in one of the variants the crawler must normalize (trailing slash,
    upper-case host, query, fragment, root-relative); every page also
    carries one off-domain link, and every 37th page one dead link (a 404).
    Instances are picklable transports: ``site(url) -> (status, html,
    last_modified)``."""

    def __init__(self, seed: int, n_pages: int, out_degree: int = 8):
        self.seed, self.n_pages, self.out_degree = seed, n_pages, out_degree

    @staticmethod
    def url(i: int) -> str:
        return f"{HOST}/wiki/P{i}"

    def links(self, i: int) -> list[tuple[str, int | None]]:
        """(href as written in the page, target page id once normalized;
        None for off-domain)."""
        kids = [8 * i + k for k in range(1, 9) if 8 * i + k < self.n_pages]
        targets = kids or [_mix(self.seed, i, j) % self.n_pages for j in range(self.out_degree)]
        out: list[tuple[str, int | None]] = []
        for j, t in enumerate(targets):
            variant = (_mix(self.seed, i, j, 1) >> 32) % 6
            href = (
                f"{HOST}/wiki/P{t}",
                f"{HOST}/wiki/P{t}/",
                f"https://EN.Wikipedia.ORG/wiki/P{t}",
                f"{HOST}/wiki/P{t}?action=edit",
                f"{HOST}/wiki/P{t}#History",
                f"/wiki/P{t}",
            )[variant]
            out.append((href, t))
        out.append((f"https://example.com/wiki/P{_mix(self.seed, i) % self.n_pages}", None))
        if i % 37 == 0:
            out.append((f"{HOST}/wiki/P{self.n_pages + i}", self.n_pages + i))
        return out

    def html(self, i: int) -> str:
        anchors = "".join(f'<li><a href="{href}">L{k}</a></li>' for k, (href, _) in
                          enumerate(self.links(i)))
        return (f"<html><head><title>P{i}</title></head><body><p>Page {i}</p>"
                f"<ul>{anchors}</ul></body></html>")

    def __call__(self, url: str) -> tuple[int, str | None, str | None]:
        m = _PAGE_RE.match(url)
        if m is None or int(m.group(1)) >= self.n_pages:
            return 404, None, None
        return 200, self.html(int(m.group(1))), LAST_MODIFIED

    def reachable(self, start: int = 0) -> tuple[set[str], set[str], int]:
        """Python BFS over the link graph: (fetched page urls, every admitted
        url including dead links, number of BFS levels)."""
        seen, frontier, depth = {start}, [start], 0
        while frontier:
            depth += 1
            nxt = []
            for i in frontier:
                if i >= self.n_pages:
                    continue
                for _, t in self.links(i):
                    if t is not None and t not in seen:
                        seen.add(t)
                        nxt.append(t)
            frontier = nxt
        pages = {self.url(i) for i in seen if i < self.n_pages}
        return pages, {self.url(i) for i in seen}, depth

