"""Seeded inputs and exact expected outputs for the benchmark.

Everything here is plain Python + pyarrow: the inputs are generated and
the expectations derived before (and independently of) the Spark
program under test.

Transactions are drawn with replacement from the 47 fixture templates
(``fixtures/raw_transactions.parquet``) and given fresh signatures and
slots. A drawn transaction decodes to exactly the golden events of its
template (``fixtures/events_golden.parquet``): every payload column,
including the J3/J4 enrichment flags, depends only on the transaction
itself, never on its signature or slot. So the expected per-type event
counts and payload checksum of any draw are sums over the templates.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "fixtures")
TEMPLATES = os.path.join(FIXTURES, "raw_transactions.parquet")
GOLDEN = os.path.join(FIXTURES, "events_golden.parquet")

# The payload columns the checksum covers: decoded instruction/CPI
# values plus the enrichment flags (the dex_pipeline_throughput
# self-check set), and the event's position inside its transaction.
CHECK_COLS = ("mint", "user", "sol_amount", "token_amount", "amount_in",
              "amount_out", "swap_from_mint", "swap_to_mint",
              "swap_from_amount", "swap_to_amount",
              "is_dev_create_token_trade", "is_bot")
ROW_KEY_COLS = ("outer_index", "inner_index")

SLOT_BASE = 400_000_000   # far above every fixture slot


def bot_wallet() -> str:
    with open(os.path.join(FIXTURES, "meta.json")) as f:
        return json.load(f)["bot_wallet"]


def load_templates() -> pa.Table:
    return pq.read_table(TEMPLATES)


def draw(rng: random.Random, n_templates: int, n: int) -> list[int]:
    return [rng.randrange(n_templates) for _ in range(n)]


def tx_table(templates: pa.Table, idx: list[int], tag: str,
             slot: int | None = None) -> pa.Table:
    """Rows ``idx`` of the templates with fresh signatures
    (``<template>_<tag>_<k>``) and, when ``slot`` is given, one fresh
    slot with transaction_index = position."""
    t = templates.take(pa.array(idx, pa.int64()))
    sigs = [f"{s}_{tag}_{k}"
            for k, s in enumerate(t.column("signature").to_pylist())]
    t = t.set_column(t.schema.get_field_index("signature"),
                     t.schema.field("signature"), pa.array(sigs))
    if slot is not None:
        n = t.num_rows
        t = t.set_column(t.schema.get_field_index("slot"),
                         t.schema.field("slot"),
                         pa.array([slot] * n, pa.int64()))
        t = t.set_column(t.schema.get_field_index("transaction_index"),
                         t.schema.field("transaction_index"),
                         pa.array(range(n), pa.int64()))
    return t


def write_parquet(table: pa.Table, path: str, mtime: float) -> None:
    """Write one file with a fixed mtime: the file stream source
    replays files in modification-time order."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


# -- expected outputs ------------------------------------------------------

_MASK64 = (1 << 64) - 1


def row_digest(values) -> int:
    """64-bit digest of one event's payload values (driver-side rows)."""
    text = "\x1f".join("\x00" if v is None else str(v) for v in values)
    return int.from_bytes(
        hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def summarize_rows(rows) -> dict:
    """{(protocol, event_type): [count, digest sum mod 2^64]} over
    delivered event rows (pyspark Rows or dicts)."""
    out: dict = {}
    for r in rows:
        key = (r["protocol"], r["event_type"])
        acc = out.setdefault(key, [0, 0])
        acc[0] += 1
        acc[1] = (acc[1] + row_digest(
            [r[c] for c in ROW_KEY_COLS + CHECK_COLS])) & _MASK64
    return out


def golden_by_template(templates: pa.Table) -> list[dict]:
    """Per template row: its golden events summarized like
    :func:`summarize_rows`."""
    golden = pq.read_table(GOLDEN).to_pylist()
    by_sig: dict[str, list] = {}
    for r in golden:
        by_sig.setdefault(r["signature"], []).append(r)
    return [summarize_rows(by_sig.get(s, ()))
            for s in templates.column("signature").to_pylist()]


def combine(parts, idx: list[int], modulus: int | None = _MASK64 + 1
            ) -> dict:
    """Expected summary of a draw: per-template summaries weighted by
    how often each template was drawn."""
    out: dict = {}
    for t, n in Counter(idx).items():
        for key, (cnt, chk) in parts[t].items():
            acc = out.setdefault(key, [0, 0])
            acc[0] += n * cnt
            acc[1] += n * chk
    if modulus:
        for acc in out.values():
            acc[1] %= modulus
    return {k: tuple(v) for k, v in out.items()}


class CheckFailed(AssertionError):
    """An operation's output differs from the expectation."""


def check_equal(what: str, got: dict, want: dict) -> None:
    """Raise :class:`CheckFailed` naming the first differing event
    type."""
    got = {k: tuple(v) for k, v in got.items()}
    if got == want:
        return
    for key in sorted(set(got) | set(want), key=str):
        if got.get(key) != want.get(key):
            raise CheckFailed(
                f"{what}: {key} got (count, checksum) {got.get(key)} "
                f"expected {want.get(key)}")


# -- dedup documents ---------------------------------------------------------

def dedup_batches(rng: random.Random, n_batches: int, docs_per_batch: int,
                  dup_frac: float, words_per_doc: int = 30,
                  vocab: int = 50_000) -> tuple[list[list], set[int]]:
    """Document batches with planted duplicates.

    A planted duplicate copies the text of an earlier original (from
    this or an earlier batch) under a new, higher doc_id: its shingle
    set equals the original's (Jaccard 1), so minhash LSH finds it with
    certainty. Originals are random words from a large vocabulary, so
    two originals share no 3-word shingle in practice. Returns the
    batches of (doc_id, text) and the set of planted ids.
    """
    batches, planted, originals = [], set(), []
    doc_id = 0
    for _ in range(n_batches):
        rows = []
        for _ in range(docs_per_batch):
            if originals and rng.random() < dup_frac:
                rows.append((doc_id, rng.choice(originals)))
                planted.add(doc_id)
            else:
                text = " ".join(f"w{rng.randrange(vocab)}"
                                for _ in range(words_per_doc))
                originals.append(text)
                rows.append((doc_id, text))
            doc_id += 1
        batches.append(rows)
    return batches, planted


def docs_table(rows: list) -> pa.Table:
    return pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                     "text": pa.array([r[1] for r in rows], pa.string())})
