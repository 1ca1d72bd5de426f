"""Seeded inputs for the benchmark, generated outside every timed region.

Two inputs:

- ``write_tables(cache_dir, sf, seed)``: the star-schema fixture the registry
  queries read (region nation customer supplier part orders lineitem events
  documents embeddings), one parquet file per table, with the column names,
  types and value ranges of the engine's test fixture.
- ``write_corpus(cache_dir, seed, mbytes)``: a synthetic book-like text corpus
  of Zipf-skewed words and the exact sorted ``word count`` lines the engine's
  ``wordcount`` command must print for it.

Both are cached by their parameters under the caller's cache directory, so a
second run with the same parameters reuses the files. ``repeat_corpus``
makes a larger corpus from a cached one by copying its files, with the
expected counts scaled to match.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_US_PER_DAY = 86_400_000_000
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "blue", "new", "old", "hot", "cold", "small", "large"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 10**6


def _days(rng, n: int, first: tuple, last: tuple) -> pa.Array:
    lo, hi = _epoch_us(*first), _epoch_us(*last)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return pa.array(lo + days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(int(10_000 * sf), 10)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731

    out = {
        "region": pa.table({
            "r_regionkey": i32(np.arange(5)), "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part),
            "p_name": pa.array([
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": 900 + rng.integers(0, 1000, n_part) / 10,
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105_000),
            "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
        }),
    }

    ts0 = _epoch_us(2024, 1, 1)
    ts = np.sort(ts0 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    # Documents: bags of fixture words; one in twenty repeats an earlier
    # document with a trailing "dup" marker, for the dedup queries.
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts]),
    })

    # Embeddings: unit vectors around one centre per label.
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(size=(10, 64))
    vec = centres[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(labels),
    })
    return out


def write_tables(cache_dir: str, sf: float, seed: int) -> str:
    """Write the fixture tables once per (sf, seed); return their directory."""
    out = os.path.join(cache_dir, f"tables-sf{sf}-seed{seed}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


# --------------------------------------------------------------- corpus

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_PUNCT = [", ", ". ", "; ", " -- ", "! ", "? "]


def _vocabulary(rng, n: int) -> list[str]:
    """``n`` distinct letter-only words of 1-12 letters; one in ten is
    capitalised (a distinct token, as the tokenizer is case preserving)."""
    seen: set[str] = set()
    vocab: list[str] = []
    while len(vocab) < n:
        lens = rng.integers(1, 13, n)
        for i, k in enumerate(lens):
            w = "".join(_LETTERS[rng.integers(0, 26, k)])
            if rng.random() < 0.1:
                w = w.capitalize()
            if w not in seen:
                seen.add(w)
                vocab.append(w)
                if len(vocab) == n:
                    break
    return vocab


def _corpus_text(seed: int, mbytes: float, vocab_size: int) -> tuple[str, list[str]]:
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, vocab_size)
    # Zipf ranks (exponent 1.1) truncated to the vocabulary.
    ranks = np.arange(1, vocab_size + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()
    n_words = int(mbytes * 1e6 / (np.dot(p, [len(w) for w in vocab]) + 1.3))
    ids = rng.choice(vocab_size, n_words, p=p)
    counts = np.bincount(ids, minlength=vocab_size)

    # Book-like lines: 6-16 words, joined by spaces with some punctuation.
    words = np.asarray(vocab, dtype=object)[ids]
    seps = np.full(n_words, " ", dtype=object)
    punct = rng.random(n_words) < 0.08
    seps[punct] = np.asarray(_PUNCT, dtype=object)[rng.integers(0, len(_PUNCT), punct.sum())]
    line_ends = np.cumsum(rng.integers(6, 17, n_words // 6 + 2))
    line_ends = line_ends[line_ends < n_words]
    seps[line_ends - 1] = "\n"
    seps[-1] = "\n"
    text = "".join(map(str.__add__, words.tolist(), seps.tolist()))
    expected = [f"{vocab[i]} {counts[i]}\n" for i in np.flatnonzero(counts)]
    expected.sort()
    return text, expected


def write_corpus(cache_dir: str, seed: int, mbytes: float, vocab_size: int = 26_000,
                 n_files: int = 4) -> tuple[list[str], str]:
    """Write the corpus once per (seed, size) as ``n_files`` text files and
    the expected ``word count`` output; return (file paths, expected path)."""
    out = os.path.join(cache_dir, f"corpus-seed{seed}-{mbytes}mb")
    files = [os.path.join(out, f"part-{i}.txt") for i in range(n_files)]
    expected_path = os.path.join(out, "expected.txt")
    if not os.path.exists(os.path.join(out, "_DONE")):
        text, expected = _corpus_text(seed, mbytes, vocab_size)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # Split at line ends so every file holds whole lines.
        cuts = [0]
        for i in range(1, n_files):
            cuts.append(text.index("\n", len(text) * i // n_files) + 1)
        cuts.append(len(text))
        for i in range(n_files):
            with open(os.path.join(tmp, f"part-{i}.txt"), "w") as fh:
                fh.write(text[cuts[i]:cuts[i + 1]])
        with open(os.path.join(tmp, "expected.txt"), "w") as fh:
            fh.writelines(expected)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return files, expected_path


def repeat_corpus(files: list[str], expected: str, times: int,
                  out: str) -> tuple[list[str], str]:
    """Copy the corpus ``files`` ``times`` times into ``out`` and write the
    expected output with every count multiplied by ``times`` (the sorted
    order is the words' order, so it does not change); return (file
    paths, expected path)."""
    os.makedirs(out)
    copies = []
    for k in range(times):
        for f in files:
            copies.append(os.path.join(out, f"copy{k}-{os.path.basename(f)}"))
            shutil.copyfile(f, copies[-1])
    expected_path = os.path.join(out, "expected.txt")
    with open(expected) as src, open(expected_path, "w") as dst:
        for line in src:
            word, n = line.split(" ")
            dst.write(f"{word} {int(n) * times}\n")
    return copies, expected_path
