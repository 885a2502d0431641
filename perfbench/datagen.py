"""Seeded input generators for the benchmark.

Two kinds of input, both written under a directory the caller owns:

* ``write_tables`` — the table the benchmark's queries read, TPC-H-style
  ``lineitem`` (one parquet file, one row group), with the column names,
  types and value domains the query registry expects. Its row count scales
  with ``sf`` as in the reference tables of TESTDATA.md (6,000,000 x sf).
* ``write_corpus`` — a Zipfian prose corpus split over a few text files,
  the input of the MapReduce word-count jobs. It exercises the tokenizer
  edge cases (mixed case, inner ASCII and Unicode apostrophes, leading and
  trailing apostrophes, digits, punctuation, empty lines).

Same seed, same bytes: every value comes from one ``numpy`` PCG64 stream.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)



def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ``lineitem`` table at scale ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))

    def pick(values, n, p=None):
        return np.asarray(values, dtype=object)[
            rng.choice(len(values), n, p=p)]

    # order and part keys and part prices drive lineitem; the orders and
    # part tables themselves are not written
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * retail[partkey] * rng.uniform(1.0, 2.1, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2500, n_line))
                          * _DAY_US)})


_SYLLABLES = ["ka", "to", "ri", "me", "su", "an", "el", "or", "in", "ve",
              "lo", "da", "ne", "th", "ar", "ch", "ou", "st", "pe", "wi"]
_PUNCT = np.asarray(["", "", "", "", ",", ".", ";", "!", "?", ":"],
                    dtype=object)


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """Pseudo-words of 1-4 syllables; some carry an inner ASCII or
    Unicode apostrophe, a stray leading/trailing one, or digits."""
    syl = np.asarray(_SYLLABLES, dtype=object)
    vocab = set(["a", "i", "o"])
    while len(vocab) < size:
        w = "".join(syl[rng.integers(0, len(syl), rng.integers(1, 5))])
        r = rng.random()
        if r < 0.04:
            cut = int(rng.integers(1, len(w)))
            w = w[:cut] + ("'" if r < 0.02 else "’") + w[cut:]
        elif r < 0.05:
            w = "'" + w
        elif r < 0.06:
            w = w + "‘"
        elif r < 0.07:
            w = w + str(int(rng.integers(0, 100)))
        vocab.add(w)
    return np.asarray(sorted(vocab), dtype=object)


def write_corpus(out_dir: str, seed: int, n_files: int,
                 bytes_per_file: int) -> list[str]:
    """Write ``n_files`` text files of ``bytes_per_file`` bytes each (to
    within one UTF-8 character; prose of Zipf-distributed words); returns
    their paths."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, 4000)
    rank_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    rank_p /= rank_p.sum()
    order = rng.permutation(len(vocab))
    paths = []
    for f in range(n_files):
        n_words = bytes_per_file // 5  # more than fit: cut below
        toks = vocab[order[rng.choice(len(vocab), n_words, p=rank_p)]]
        caps = rng.random(n_words) < 0.08
        toks[caps] = [t.capitalize() for t in toks[caps]]
        toks = toks + _PUNCT[rng.integers(0, len(_PUNCT), n_words)]
        line_len = rng.integers(0, 16, n_words // 4)
        bounds = np.concatenate([[0], np.cumsum(line_len)])
        bounds = bounds[bounds <= n_words]
        lines = [" ".join(toks[bounds[i]:bounds[i + 1]])
                 for i in range(len(bounds) - 1)]
        # a fixed size whatever the seed's word lengths; no trailing
        # newline: the last line of a shard ends at EOF
        text = "\n".join(lines).encode("utf-8")[:bytes_per_file]
        path = os.path.join(out_dir, f"part-{f:02d}.txt")
        with open(path, "wb") as fh:
            fh.write(text.decode("utf-8", "ignore").encode("utf-8"))
        paths.append(path)
    return paths
