"""Seeded input generators for the bulk-load benchmark.

Everything here is a pure function of its seed and sizes, so the same
seed gives byte-identical inputs, and every planted property (null last
fields, near-duplicate pairs, absent get keys) is placed at an exact
count that the benchmark checks the engine against.

The records have the `pw_schema.avsc` shape: nine string columns
(zip, eiaid, utility_name, state, service_type, ownership, comm_rate,
ind_rate, res_rate). The engine's rowkey is the concatenated hex MD5 of
the first four columns; column 1 (eiaid) carries the row index, so key
tuples are unique and range-scan and get results are predictable.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

N_COLS = 9
KEY_COLS = 4
NULL_SHARE = 0.01  # rows whose last field is null
RANGE_HEX_DIGITS = 6  # range bounds are rowkey prefixes of this length
RANGE_SHARE_LOG2 = 8  # each range covers 1/256 of the keyspace
ABSENT_SHARE = 0.25  # get keys absent from the table
DUP_SHARE = 0.1  # corpus documents that are near-copies of another
DOC_WORDS = 100
DOC_EDITS = 2  # words replaced in a near-copy
VOCAB = 20_000

STATES = ["CA", "TX", "NY", "FL", "PA", "AL", "OH", "GA", "NC", "MI",
          "WA", "VA", "NJ", "IL", "AZ", "OR", "CO", "MN", "WI", "MO"]
SERVICE = ["Bundled", "Delivery", "Energy"]
OWNERSHIP = ["Investor Owned", "Municipal", "Cooperative", "Federal",
             "Political Subdivision", "State"]
UTILITY_WORDS = ["Electric", "Power", "Light", "Energy", "Valley", "Rural",
                 "Public", "Service", "Gas", "Water", "County", "Cooperative"]


@dataclass
class Records:
    """Generated 9-field rows; a planted null last field is ``None``."""

    rows: list[tuple]
    n_null_last: int


def _rate(rng: random.Random) -> str:
    return f"0.{rng.randrange(10**11, 10**12)}"


def records(seed: int, n_rows: int) -> Records:
    """``n_rows`` EIA-shaped rows, exactly ``round(n_rows * NULL_SHARE)``
    of them with a null last field, at seeded positions."""
    rng = random.Random(seed)
    n_null = round(n_rows * NULL_SHARE)
    null_last = set(rng.sample(range(n_rows), n_null))
    rows: list[tuple] = []
    for i in range(n_rows):
        eiaid = str(100000 + i)
        rows.append((
            f"{rng.randrange(1000, 99999):05d}",
            eiaid,
            f"{rng.choice(UTILITY_WORDS)} {rng.choice(UTILITY_WORDS)} Co {eiaid}",
            rng.choice(STATES),
            rng.choice(SERVICE),
            rng.choice(OWNERSHIP),
            _rate(rng),
            _rate(rng),
            None if i in null_last else _rate(rng),
        ))
    return Records(rows, n_null)


def rowkey(row: tuple) -> str:
    """The engine's composite rowkey: hex MD5 of each key field, a null
    hashing as the empty string."""
    return "".join(
        hashlib.md5((v or "").encode()).hexdigest() for v in row[:KEY_COLS]
    )


def n_cells(row: tuple) -> int:
    """Cells a row becomes: one per non-null field."""
    return sum(v is not None for v in row)


def table_rows(recs: Records) -> dict[str, tuple]:
    """Rowkey → row: what scans, range scans and gets on the loaded table
    must return."""
    return {rowkey(r): r for r in recs.rows}


def range_bounds(seed: int, n: int) -> list[tuple[str, str]]:
    """``n`` rowkey ranges ``[a, b)``, each 1/2**RANGE_SHARE_LOG2 of the
    hex keyspace, as RANGE_HEX_DIGITS-digit bounds."""
    rng = random.Random(seed)
    span = 16 ** RANGE_HEX_DIGITS
    width = span >> RANGE_SHARE_LOG2
    out = []
    for _ in range(n):
        lo = rng.randrange(0, span - width)
        out.append((f"{lo:0{RANGE_HEX_DIGITS}x}", f"{lo + width:0{RANGE_HEX_DIGITS}x}"))
    return out


def get_batches(seed: int, keys: list[str], n_batches: int,
                batch_size: int) -> list[list[str]]:
    """``n_batches`` get batches of ``batch_size`` distinct keys each:
    ``round(batch_size * ABSENT_SHARE)`` keys absent from the table (so
    the bloom path runs), the rest drawn from ``keys``."""
    rng = random.Random(seed)
    present = set(keys)
    n_absent = round(batch_size * ABSENT_SHARE)
    out = []
    for _ in range(n_batches):
        batch = rng.sample(keys, batch_size - n_absent)
        while len(batch) < batch_size:
            k = "%0128x" % rng.getrandbits(512)
            if k not in present and k not in batch:
                batch.append(k)
        rng.shuffle(batch)
        out.append(batch)
    return out


@dataclass
class Corpus:
    """A near-dup corpus: ``docs`` are (doc_id, text); ``planted`` are
    the (base, copy) id pairs, each base copied at most once."""

    docs: list[tuple[int, str]]
    planted: list[tuple[int, int]]


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams, the engine's near-dup unit."""
    w = text.split()
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of DOC_WORDS words drawn from a VOCAB-word
    vocabulary; exactly ``round(n_docs * DUP_SHARE)`` of them are copies
    of a distinct base document with DOC_EDITS words replaced.

    A replaced word changes at most 3 of the copy's 98 3-word shingles,
    so a planted pair has Jaccard at least 92/104 = 0.885, far above the
    0.7 dedup threshold, and unrelated documents share almost no
    shingle. The engine's banding for 0.7 (60 hashes, 15 bands of 4)
    misses a pair at 0.885 with probability (1 - 0.885**4)**15 < 1e-6,
    so a correct engine finds every planted pair of a seed's corpus,
    and the benchmark fails a pass that misses one."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(VOCAB)]
    n_dup = round(n_docs * DUP_SHARE)
    n_base = n_docs - n_dup
    texts = [[rng.choice(words) for _ in range(DOC_WORDS)] for _ in range(n_base)]
    planted = []
    for base in rng.sample(range(n_base), n_dup):
        copy = list(texts[base])
        for pos in rng.sample(range(DOC_WORDS), DOC_EDITS):
            copy[pos] = rng.choice(words)
        planted.append((base, len(texts)))
        texts.append(copy)
    return Corpus([(i, " ".join(t)) for i, t in enumerate(texts)], planted)
