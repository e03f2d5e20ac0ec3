"""Seeded input generator for the three benchmark workloads.

Pure Python: no Spark, no input from outside the run directory. The
same seed gives byte-identical files and manifests; a different seed
changes them. Every function writes under the directory it is given
and returns a manifest holding the ground truth the output checks use
(known diff counts, injected duplicate groups, expected survivors).
"""

from __future__ import annotations

import csv
import datetime
import itertools
import os
import random
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# Convert and mask requests: a six-column customer-like table, about
# 63 CSV bytes a row, as the repository's lineitem table (orders: 51).
COLUMNS = ["id", "name", "city", "qty", "price", "note"]
FIRST = ["Ada", "Bo", "Cy", "Dana", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
LAST = ["Kim", "Lee", "Park", "Moss", "Nagy", "Ortiz", "Pak", "Quinn", "Roy", "Sato"]
CITIES = ["Seoul", "Busan", "Lyon", "Porto", "Osaka", "Quito", "Perth", "Oslo"]
# Pieces that exercise CSV quoting and XML escaping in the notes.
SPECIALS = ["a, b", "R&D", "<b>", 'say "hi"', "x > y"]

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def vocabulary(n: int = 4000) -> list[str]:
    """``n`` distinct pronounceable lower-case words, seed-independent:
    four letters, except every fourth rank which has six, so a word
    drawn with the Zipf weights below averages about 4.5 letters, as in
    the repository's ``documents`` table."""
    syll = [c + v for c in _CONS for v in _VOWELS]
    short = (a + b for a, b in itertools.product(syll, syll))
    long = (a + b + c for a, b, c in itertools.product(syll, syll, syll))
    return [next(long) if i % 4 == 3 else next(short) for i in range(n)]


VOCAB = vocabulary()
# Zipf-like word frequencies, so BM25 weights vary as in real text.
_CUM = list(itertools.accumulate(1.0 / (i + 1) for i in range(len(VOCAB))))
# Words per document: uniform over the range the documents table has
# (10 to 100, median 54).
DOC_WORDS = (10, 100)
# Near copies are made only of documents at least this long; see
# _near_copy.
NEAR_MIN_WORDS = 25


def _rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"{seed}:{purpose}")


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return rng.choices(VOCAB, cum_weights=_CUM, k=rng.randint(lo, hi))


# ---------------------------------------------------------------------------
# tool_requests
# ---------------------------------------------------------------------------


def _note(rng: random.Random) -> str:
    words = _words(rng, 3, 8)
    if rng.random() < 0.3:
        words.insert(rng.randrange(len(words)), rng.choice(SPECIALS))
    return " ".join(words)


FULL_NAMES = [f"{f} {last}" for f in FIRST for last in LAST]
QTYS = [str(q) for q in range(1, 501)]
NOTE_POOL = 2_000


def _rows(rng: random.Random, keys: list[int]) -> list[list[str]]:
    """One row per key; columns drawn in bulk, notes from a seeded pool."""
    n = len(keys)
    pool = [_note(rng) for _ in range(min(n, NOTE_POOL))]
    return [
        list(r)
        for r in zip(
            map(str, keys),
            rng.choices(FULL_NAMES, k=n),
            rng.choices(CITIES, k=n),
            rng.choices(QTYS, k=n),
            (f"{x / 100:.2f}" for x in rng.choices(range(100, 1_000_000), k=n)),
            rng.choices(pool, k=n),
        )
    ]


def _write_csv(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(COLUMNS)
        w.writerows(rows)


def _write_xml(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        f.write("<rows>\n")
        for r in rows:
            f.write("  <row>\n")
            for c, v in zip(COLUMNS, r):
                f.write(f"    <{c}>{escape(v)}</{c}>\n")
            f.write("  </row>\n")
        f.write("</rows>\n")


def _table(rng: random.Random, n: int) -> list[list[str]]:
    return _rows(rng, rng.sample(range(1, 4 * n + 1), n))


# Compare requests: tables shaped like the orders table (six columns,
# values drawn from the same ranges, about 50 CSV bytes a row); the
# largest has the 150,000 rows orders has at scale factor 0.1.
ORDER_COLUMNS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]
ORDER_STATUS = ["F", "O", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_DATES = [
    f"{datetime.date(1995, 1, 1) + datetime.timedelta(days=d)} 00:00:00" for d in range(2405)
]


def _order_rows(rng: random.Random, keys: list[int], n_cust: int) -> list[list[str]]:
    n = len(keys)
    return [
        list(r)
        for r in zip(
            map(str, keys),
            map(str, rng.choices(range(n_cust), k=n)),
            rng.choices(ORDER_STATUS, k=n),
            (f"{x / 100:.2f}" for x in rng.choices(range(100_000, 50_000_000), k=n)),
            rng.choices(ORDER_DATES, k=n),
            rng.choices(ORDER_PRIORITY, k=n),
        )
    ]


def _write_orders(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(ORDER_COLUMNS)
        w.writerows(rows)


def _version_b(
    rng: random.Random, n: int, frac: float
) -> tuple[list[list[str]], list[list[str]], dict[str, int]]:
    """Orders-shaped A of ``n`` rows, and B = A with ``frac`` of keys
    deleted, ``frac`` changed in exactly one non-key field, and ``frac``
    new keys added; counts returned."""
    n_cust = max(1, n // 10)
    a = _order_rows(rng, rng.sample(range(1, 4 * n + 1), n), n_cust)
    k = max(1, int(n * frac))
    idx = rng.sample(range(n), 2 * k)
    deleted, changed = set(idx[:k]), set(idx[k:])
    b = []
    for i, r in enumerate(a):
        if i in deleted:
            continue
        r = list(r)
        if i in changed:
            col = rng.randrange(1, len(ORDER_COLUMNS))
            r[col] = r[col] + "-v2"
        b.append(r)
    used = {int(r[0]) for r in a}
    fresh = [x for x in range(4 * n + 1, 6 * n + 1) if x not in used]
    b.extend(_order_rows(rng, rng.sample(fresh, k), n_cust))
    rng.shuffle(b)
    counts = {"added": k, "deleted": k, "changed": k, "same": n - 2 * k}
    return a, b, counts


def _pattern_line(rng: random.Random) -> str:
    parts = []
    for w in _words(rng, 6, 14):
        r = rng.random()
        if r < 0.1:
            w = w.capitalize()
        elif r < 0.2:
            w = f"{w}{rng.randint(0, 99999)}"
        parts.append(w)
        parts.append(rng.choice([" ", " ", " ", "  ", "\t", " , ", ","]))
    return "".join(parts[:-1])


# Request mix of one block: each block holds exactly these requests, in a
# seeded order, so every run times the same multiset of request types.
BLOCK = [
    ("convert_csv_xml", "t1k"),
    ("convert_xml_csv", "x1k"),
    ("convert_csv_xlsx", "s500"),
    ("compare", "c1k"),
    ("compare", "c20k"),
    ("compare", "c150k"),
    ("mask", "m10k"),
    ("pattern", "p10k"),
]
COMPARE_SIZES = {"c1k": 1_000, "c20k": 20_000, "c150k": 150_000}
XLSX_SHEETS = 3


def tool_inputs(seed: int, out_dir: str) -> dict:
    """Files for the reference-tool requests plus their ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    m: dict = {"tables": {}, "compare": {}, "xlsx": {}, "text": {}}

    rows = _table(_rng(seed, "t1k"), 1_000)
    _write_csv(os.path.join(out_dir, "t1k.csv"), rows)
    m["tables"]["t1k"] = rows

    rows = _table(_rng(seed, "x1k"), 1_000)
    _write_xml(os.path.join(out_dir, "x1k.xml"), rows)
    m["tables"]["x1k"] = rows

    rng = _rng(seed, "s500")
    sheets = {}
    for i in range(XLSX_SHEETS):
        rows = _table(rng, 500)
        _write_csv(os.path.join(out_dir, f"s500_{i}.csv"), rows)
        sheets[f"s500_{i}"] = rows
    m["xlsx"]["s500"] = sheets

    for name, n in COMPARE_SIZES.items():
        a, b, counts = _version_b(_rng(seed, name), n, 0.05)
        _write_orders(os.path.join(out_dir, f"{name}_a.csv"), a)
        _write_orders(os.path.join(out_dir, f"{name}_b.csv"), b)
        m["compare"][name] = {"counts": counts, "rows": len(a) + len(b)}

    rows = _table(_rng(seed, "m10k"), 10_000)
    _write_csv(os.path.join(out_dir, "m10k.csv"), rows)
    m["tables"]["m10k"] = rows

    rng = _rng(seed, "p10k")
    lines = [_pattern_line(rng) for _ in range(10_000)]
    with open(os.path.join(out_dir, "p10k.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    m["text"]["p10k"] = lines

    order = _rng(seed, "blocks")
    m["blocks_seed"] = order.getrandbits(32)
    return m


def block_order(manifest: dict, block: int) -> list[tuple[str, str]]:
    """The seeded request order of block number ``block``."""
    order = list(BLOCK)
    random.Random(f"{manifest['blocks_seed']}:{block}").shuffle(order)
    return order


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

CORPUS_DOCS = 10_000  # twice the 5,000-row documents table (sf0.1)
CORPUS_QUERIES = 10
_DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    table = pa.table(
        {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]},
        schema=_DOC_SCHEMA,
    )
    pq.write_table(table, path)


def _near_copy(rng: random.Random, text: str) -> str:
    """Replace one word in each half, or only in the first: for documents
    of at least NEAR_MIN_WORDS words the word-3-shingle Jaccard stays
    >= 0.58, above the 0.5 dedup threshold."""
    words = text.split(" ")
    half = len(words) // 2
    for pos in rng.sample(range(half), 1) + rng.sample(range(half, len(words)), rng.randint(0, 1)):
        words[pos] = rng.choice(VOCAB)
    return " ".join(words)


def _long(text: str) -> bool:
    return text.count(" ") + 1 >= NEAR_MIN_WORDS


def _corpus(
    rng: random.Random, n: int, exact_rate: float, near_rate: float
) -> tuple[list[tuple[int, str]], dict]:
    """``n`` docs: fresh random docs plus exact copies (some differing
    only in letter case, so equal after normalization) and near copies
    of distinct fresh docs (near copies only of docs of at least
    NEAR_MIN_WORDS words). Ids are shuffled so a copy is not always the
    larger id."""
    n_exact, n_near = int(n * exact_rate), int(n * near_rate)
    n_fresh = n - n_exact - n_near
    ids = rng.sample(range(1, 10 * n + 1), n)
    fresh = [(ids[i], " ".join(_words(rng, *DOC_WORDS))) for i in range(n_fresh)]
    near_src = rng.sample([i for i, (_, t) in enumerate(fresh) if _long(t)], n_near)
    taken = set(near_src)
    sources = rng.sample([i for i in range(n_fresh) if i not in taken], n_exact) + near_src
    docs = list(fresh)
    exact, near = [], []
    for j, s in enumerate(sources):
        sid, text = fresh[s]
        new_id = ids[n_fresh + j]
        if j < n_exact:
            copy = text.upper() if rng.random() < 0.3 else text
            docs.append((new_id, copy))
            exact.append([sid, new_id])
        else:
            docs.append((new_id, _near_copy(rng, text)))
            near.append([sid, new_id])
    rng.shuffle(docs)
    used = set(sources)
    singles = [fresh[i][0] for i in range(n_fresh) if i not in used]
    return docs, {"exact": exact, "near": near, "singles": singles}


def corpus_inputs(seed: int, out_dir: str) -> dict:
    """The dedup corpus and queries copied verbatim from its documents."""
    os.makedirs(out_dir, exist_ok=True)
    docs, truth = _corpus(_rng(seed, "corpus"), CORPUS_DOCS, 0.04, 0.08)
    _write_docs(os.path.join(out_dir, "corpus.parquet"), docs)
    text = dict(docs)
    qrng = _rng(seed, "queries")
    qdocs = qrng.sample(truth["singles"], CORPUS_QUERIES)
    _write_docs(
        os.path.join(out_dir, "queries.parquet"),
        [(i, text[d]) for i, d in enumerate(qdocs)],
    )
    return {
        "docs": len(docs),
        "exact": truth["exact"],
        "near": truth["near"],
        "queries": qdocs,
    }


# ---------------------------------------------------------------------------
# ingest_batches
# ---------------------------------------------------------------------------

STANDING_DOCS = 3_000
BATCH_DOCS = 300
BATCH_EXACT, BATCH_NEAR = 30, 30


class IngestStream:
    """A standing corpus, written on construction, and the batches that
    arrive after it, written one at a time by :meth:`next_batch`. Each
    batch holds exact copies of committed docs (standing or earlier-batch
    survivors), near copies of standing docs, and fresh docs; batch ``b``
    depends only on the seed and the batches before it."""

    def __init__(self, seed: int, out_dir: str):
        os.makedirs(out_dir, exist_ok=True)
        self.seed, self.out_dir = seed, out_dir
        standing, truth = _corpus(_rng(seed, "standing"), STANDING_DOCS, 0.0, 0.05)
        self.standing_path = os.path.join(out_dir, "standing.parquet")
        _write_docs(self.standing_path, standing)
        self.standing = [d for d, _ in standing]
        self.standing_long = [d for d, t in standing if _long(t)]
        self.standing_near = truth["near"]
        self.batches: list[dict] = []
        self._text = dict(standing)
        self._committed = list(self.standing)
        self._next_id = 100 * STANDING_DOCS

    def _new_doc(self, docs: list, text: str) -> int:
        doc_id = self._next_id
        self._next_id += 1
        docs.append((doc_id, text))
        return doc_id

    def next_batch(self) -> dict:
        """Write the next batch; return its file and ground truth."""
        b = len(self.batches)
        rng = _rng(self.seed, f"batch{b}")
        docs, exact, near, survivors = [], [], [], []
        for src in rng.sample(self._committed, BATCH_EXACT):
            exact.append([src, self._new_doc(docs, self._text[src])])
        for src in rng.sample(self.standing_long, BATCH_NEAR):
            near.append([src, self._new_doc(docs, _near_copy(rng, self._text[src]))])
            survivors.append(near[-1][1])
        for _ in range(BATCH_DOCS - BATCH_EXACT - BATCH_NEAR):
            survivors.append(self._new_doc(docs, " ".join(_words(rng, *DOC_WORDS))))
        self._text.update(docs)
        rng.shuffle(docs)
        path = os.path.join(self.out_dir, f"batch{b:03d}.parquet")
        _write_docs(path, docs)
        self._committed.extend(survivors)
        self.batches.append(
            {
                "path": path,
                "exact": exact,
                "near": near,
                "survivors": sorted(survivors),
                "text_bytes": sum(len(t.encode("utf-8")) for _, t in docs),
            }
        )
        return self.batches[-1]
