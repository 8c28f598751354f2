"""Seeded inputs and their oracles. The same seed always gives the same
inputs; the engine only ever sees the files written here.

- chain tables: ``fixtures.generate`` (the Erigon-shaped generator with its
  edge cases) written to Parquet with the engine's declared schemas;
- the expected state history from ``fixtures.expected_state_history``,
  indexed as per-key timelines so any as-of lookup has a known answer;
- as-of lookup requests: Zipf-skewed addresses, uniform blocks, half
  accounts and half storage slots;
- a synthetic corpus of Zipf-word documents with planted exact and near
  duplicates, each generated after its base document.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHAIN_TABLES = (
    "sync_stage",
    "account_changesets",
    "storage_changesets",
    "plain_state",
    "plain_code_hash",
)
HISTORY_COLUMNS = [
    "address", "kind", "incarnation", "slot", "block_from",
    "nonce", "balance", "code_hash", "value",
]


def _arrow_schema(spark_schema) -> pa.Schema:
    kinds = {"long": pa.int64(), "integer": pa.int32(), "binary": pa.binary(), "string": pa.string()}
    return pa.schema(
        [pa.field(f.name, kinds[f.dataType.typeName()], f.nullable) for f in spark_schema.fields]
    )


def write_rows(path: str, spark_schema, rows) -> None:
    schema = _arrow_schema(spark_schema)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_table(table, path)


def generate_chain(seed: int, n_addresses: int):
    """Erigon-shaped tables at fixed proportions: ten blocks per address
    and one hot contract per 500 addresses."""
    from erigon_extract_spark import fixtures

    return fixtures.generate(
        seed=seed,
        n_addresses=n_addresses,
        n_blocks=10 * n_addresses,
        n_body_blocks=0,
        hot_addresses=max(1, n_addresses // 500),
    )


def write_chain(fx, out_dir: str) -> dict:
    """Write the five pipeline tables; returns row counts per table."""
    from erigon_extract_spark import schemas as S

    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "sync_stage": (S.SYNC_STAGE, fx.sync_stage),
        "account_changesets": (S.ACCOUNT_CHANGESETS, fx.account_changesets),
        "storage_changesets": (S.STORAGE_CHANGESETS, fx.storage_changesets),
        "plain_state": (S.PLAIN_STATE, fx.plain_state),
        "plain_code_hash": (S.PLAIN_CODE_HASH, fx.plain_code_hash),
    }
    for name, (schema, rows) in tables.items():
        write_rows(os.path.join(out_dir, f"{name}.parquet"), schema, rows)
    return {name: len(rows) for name, (_, rows) in tables.items()}


def write_history(rows, path: str) -> None:
    from erigon_extract_spark import schemas as S

    write_rows(path, S.STATE_HISTORY, rows)


@dataclass
class Timelines:
    """Per-key version timelines of a state history: the oracle for every
    as-of lookup. Versions are sorted by block_from."""

    accounts: dict = field(default_factory=dict)  # address -> ([block], [(nonce, balance, inc, code_hash)])
    storage: dict = field(default_factory=dict)  # (address, inc, slot) -> ([block], [value])

    @classmethod
    def from_history(cls, rows) -> "Timelines":
        t = cls()
        for addr, kind, inc, slot, block, nonce, bal, ch, val in sorted(
            rows, key=lambda r: (r[0], r[1], r[2] if r[1] else 0, r[3] or b"", r[4])
        ):
            if kind == 0:
                blocks, vals = t.accounts.setdefault(addr, ([], []))
                vals.append((nonce, bal, inc, ch))
            else:
                blocks, vals = t.storage.setdefault((addr, inc, slot), ([], []))
                vals.append(val)
            blocks.append(block)
        return t

    def account_at(self, address: bytes, block: int):
        """(block_from, (nonce, balance, incarnation, code_hash)) or None."""
        return _as_of(self.accounts.get(address), block)

    def storage_at(self, address: bytes, incarnation: int, slot: bytes, block: int):
        """(block_from, value) or None."""
        return _as_of(self.storage.get((address, incarnation, slot)), block)

    def snapshot_sizes(self, block: int) -> tuple[int, int]:
        """Keys with a version at or before ``block``: (accounts, storage)."""
        n_acct = sum(1 for b, _ in self.accounts.values() if b[0] <= block)
        n_stor = sum(1 for b, _ in self.storage.values() if b[0] <= block)
        return n_acct, n_stor


def _as_of(timeline, block: int):
    if timeline is None:
        return None
    blocks, vals = timeline
    i = bisect.bisect_right(blocks, block)
    return None if i == 0 else (blocks[i - 1], vals[i - 1])


def zipf_cdf(n: int, s: float) -> np.ndarray:
    cdf = np.cumsum(np.arange(1, n + 1, dtype=float) ** -s)
    return cdf / cdf[-1]


def lookup_requests(seed: int, timelines: Timelines, latest_block: int, n: int,
                    zipf_s: float = 1.1) -> list[tuple]:
    """``n`` as-of requests alternating account and storage. Addresses are
    Zipf-ranked in a seeded order; blocks are uniform over the chain plus
    the PlainState shift. Account: ("account", address, block); storage:
    ("storage", address, incarnation, slot, block)."""
    rng = random.Random(seed)
    accounts = sorted(timelines.accounts)
    rng.shuffle(accounts)
    slots_of: dict[bytes, list] = {}
    for addr, inc, slot in sorted(timelines.storage):
        slots_of.setdefault(addr, []).append((inc, slot))
    contracts = sorted(slots_of)
    rng.shuffle(contracts)
    acct_cdf = zipf_cdf(len(accounts), zipf_s)
    stor_cdf = zipf_cdf(len(contracts), zipf_s)
    out = []
    for i in range(n):
        block = rng.randint(0, latest_block + 1)
        if i % 2 == 0:
            addr = accounts[int(np.searchsorted(acct_cdf, rng.random()))]
            out.append(("account", addr, block))
        else:
            addr = contracts[int(np.searchsorted(stor_cdf, rng.random()))]
            inc, slot = rng.choice(slots_of[addr])
            out.append(("storage", addr, inc, slot, block))
    return out


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out, i = "", i + 26
    while i:
        out, i = letters[i % 26] + out, i // 26
    return out


def corpus(seed: int, n_docs: int, words: int = 80, vocab: int = 30_000,
           dup_share: float = 0.1, near_share: float = 0.1, zipf_s: float = 1.1):
    """Synthetic documents of Zipf-distributed words. The first
    ``1 - dup_share - near_share`` of the ids are base documents; each later
    id copies a random base exactly or with two words replaced, so the base
    always has the smallest id of its duplicate cluster. Returns
    (texts, n_base); doc ids are list positions."""
    rng = np.random.default_rng(seed)
    vocab_words = np.array([_word(i) for i in range(vocab)], dtype=object)
    cdf = zipf_cdf(vocab, zipf_s)
    n_base = n_docs - int(n_docs * dup_share) - int(n_docs * near_share)
    n_exact = int(n_docs * dup_share)
    tokens = np.searchsorted(cdf, rng.random((n_base, words)))
    texts = [" ".join(vocab_words[t]) for t in tokens]
    for k in range(n_docs - n_base):
        base = int(rng.integers(n_base))
        if k < n_exact:
            texts.append(texts[base])
        else:
            t = tokens[base].copy()
            t[rng.choice(words, 2, replace=False)] = np.searchsorted(cdf, rng.random(2))
            texts.append(" ".join(vocab_words[t]))
    return texts, n_base


def write_corpus(texts, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(range(len(texts)), pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pq.write_table(table, path)
