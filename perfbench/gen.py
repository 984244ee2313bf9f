"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical output (``perfbench/tests/test_gen.py`` holds that).

- ``review_file`` / ``review_corpus``: line-oriented product reviews,
  the shape of the reference's kitchen-filter example. About a third
  of the lines name a kitchen product, which the simulated LLM keeps.
- ``edit_documents``: the per-run edit set of the corpus workload. It
  changes one rating digit in each chosen document, so the edited
  line keeps its token count, the chunk boundaries stay where they
  were, and each edited document misses the cache on exactly one
  chunk.
- ``write_tables``: the ten analytics tables (TPC-H-shaped star
  schema, an event stream, a text corpus with planted near-duplicates
  and unit embeddings) with the column types and value domains the
  query suite reads.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics

KITCHEN = (
    "pan", "skillet", "kettle", "toaster", "blender", "whisk", "spatula",
    "colander", "knife", "saucepan", "mixer", "grater",
)
OTHER = (
    "drill", "tent", "headphones", "backpack", "lamp", "keyboard", "jacket",
    "charger", "helmet", "monitor", "sneakers", "umbrella", "router",
    "speaker", "wallet", "notebook", "bicycle", "printer", "scarf", "mouse",
    "camera", "pillow",
)
ADJECTIVES = (
    "great", "cheap", "sturdy", "flimsy", "solid", "decent", "awful",
    "lovely", "heavy", "light", "compact", "noisy", "quiet", "shiny",
)
PHRASES = (
    "arrived on time", "broke after a week", "works as described",
    "would buy again", "not worth the price", "exceeded my expectations",
    "the packaging was damaged", "easy to clean", "hard to assemble",
    "my family loves it", "returned it the next day", "good value overall",
    "customer service was helpful", "looks better than the photos",
    "smaller than expected", "does the job",
)
KITCHEN_SHARE = 0.3


def review_line(rng: random.Random) -> str:
    """One review line: ``<stars> stars | <product> | <comment>``. The
    rating digit comes first so ``edit_documents`` can change it."""
    noun = rng.choice(KITCHEN if rng.random() < KITCHEN_SHARE else OTHER)
    comment = ", ".join(rng.sample(PHRASES, rng.randint(1, 3)))
    return (
        f"{rng.randint(1, 5)} stars | {rng.choice(ADJECTIVES)} {noun} | "
        f"{comment}"
    )


def review_file(seed: int, n_lines: int) -> str:
    """The one-file workload's input: ``n_lines`` review lines."""
    rng = random.Random(seed)
    return "\n".join(review_line(rng) for _ in range(n_lines))


def review_corpus(seed: int, n_docs: int, median_lines: int) -> list[tuple[int, str]]:
    """(doc_id, text) documents whose line counts are log-normal around
    ``median_lines`` (sigma 1), so most fit one chunk and a tail spans
    several. The counts are the distribution's evenly spaced quantiles
    in a seeded order, so every seed gives the same total size."""
    rng = random.Random(seed)
    dist = statistics.NormalDist(math.log(median_lines), 1.0)
    counts = [max(1, round(math.exp(dist.inv_cdf((i + 0.5) / n_docs)))) for i in range(n_docs)]
    rng.shuffle(counts)
    return [
        (doc_id, "\n".join(review_line(rng) for _ in range(n)))
        for doc_id, n in enumerate(counts)
    ]


def edit_documents(
    seed: int, docs: list[tuple[int, str]], n_edits: int
) -> tuple[list[tuple[int, str]], list[int]]:
    """Change the rating digit of one line in ``n_edits`` seeded
    documents; returns (edited corpus, edited doc ids)."""
    rng = random.Random(seed * 7919 + 1)
    chosen = sorted(rng.sample(range(len(docs)), n_edits))
    out = list(docs)
    for i in chosen:
        doc_id, text = out[i]
        lines = text.split("\n")
        j = rng.randrange(len(lines))
        old = lines[j][0]
        lines[j] = rng.choice([d for d in "12345" if d != old]) + lines[j][1:]
        out[i] = (doc_id, "\n".join(lines))
    return out, [out[i][0] for i in chosen]


# -- analytics tables ------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "blue", "hot", "cold", "old", "new")
PART_NOUN = ("widget", "ring", "plate", "rod", "bolt", "gear", "gizmo", "anvil")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DOC_WORDS = (
    "a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _days(rng, n, start: dt.date, end: dt.date):
    """Midnight timestamps (µs) uniform over [start, end]."""
    base = (start - dt.date(1970, 1, 1)).days
    day = rng.integers(base, base + (end - start).days + 1, n)
    return day.astype("int64") * 86_400_000_000


def table_columns(seed: int, sf: float) -> dict[str, dict]:
    """Column arrays of every table at scale ``sf`` (sf 1 has 6 M
    lineitems); pure function of ``seed``."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(20_000 * sf)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n, p=None):
        return np.asarray(list(values), dtype=object)[rng.choice(len(values), n, p=p)]

    tables: dict[str, dict] = {
        "region": {"r_regionkey": np.arange(5, dtype="int32"), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype="int32") % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype="int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype="int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype="int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype="int64"),
            "o_orderstatus": pick("OFP", n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype="int64"),
            "l_partkey": rng.integers(0, n_part, n_line, dtype="int64"),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype="int64"),
            "l_linenumber": rng.integers(1, 8, n_line, dtype="int32"),
            "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": money(900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": pick("ANR", n_line),
            "l_linestatus": pick("OF", n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
    }
    jan = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days * 86_400_000_000
    tables["events"] = {
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": jan + np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)),
        "user_id": rng.integers(0, max(1, n_evt // 66), n_evt, dtype="int64"),
        "event_type": pick(EVENT_TYPES, n_evt),
        "value": money(0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), k)])
        for k in rng.integers(10, 100, n_docs)
    ]
    # 5 % near-duplicates: another document's text plus a marker word
    for i in sorted(rng.choice(n_docs, n_docs // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": pick(LANGS, n_docs, p=LANG_WEIGHTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.asarray([len(t) for t in texts], dtype="int64"),
    }
    vecs = rng.standard_normal((n_vec, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vec, dtype="int32"),
    }
    return tables


_TIMESTAMPS = {"o_orderdate", "l_shipdate", "ts"}


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten tables as ``<out_dir>/<name>.parquet`` (one file
    each, as ``mapreduce_llm_spark.io.load_table`` reads them); returns
    the bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, cols in table_columns(seed, sf).items():
        arrays = {}
        for col, values in cols.items():
            if col in _TIMESTAMPS:
                arrays[col] = pa.array(values, pa.timestamp("us"))
            elif col == "embedding":
                arrays[col] = pa.array(values, pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(arrays), path, compression="snappy")
        total += os.path.getsize(path)
    return total
