"""End-to-end pipeline orchestration — the engine's equivalent of the
reference's CLI entry point (erigon_extract.c:2595-2782): full-history mode,
pruned mode (-P: last 90,000 blocks, erigon_extract.c:2721-2726), and the
txbodies stage, driven from the seven raw tables to the sorted state-history
store + manifest.

A user of the reference runs `erigon_extract [-M] [-P] <chaindata>`; a user
here calls ``run_full_pipeline(spark, tables, out_path, prune_blocks=...)``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# assert_empty is unused here but stays importable as pipeline.assert_empty:
# e2ebench/trace.py patches the functions this module binds, by name.
from erigon_extract_spark.operators.asserts import assert_empty, assert_in_row  # noqa: F401
from erigon_extract_spark.plans.extract import (
    code_hash_inconsistent,
    decode_account_changesets,
    decode_storage_changesets,
    malformed_key,
    recover_code_hashes,
    split_plain_state,
)
from erigon_extract_spark.plans.transpose import build_state_history

PRUNE_WINDOW = 90_000  # reference README.md:24-27


@dataclass
class PipelineTables:
    sync_stage: DataFrame
    account_changesets: DataFrame
    storage_changesets: DataFrame
    plain_state: DataFrame
    plain_code_hash: DataFrame


def latest_block(tables: PipelineTables) -> int:
    """S1/A4: the pipeline's upper bound — SyncStage["Execution"]
    (erigon_extract.c:1435-1467), falling back to max(block) in the data."""
    row = (
        tables.sync_stage.filter(F.col("stage_name") == "Execution")
        .select("block")
        .first()
    )
    if row is not None:
        return row["block"]
    return tables.account_changesets.agg(F.max("block")).first()[0]


def _decoded(df: DataFrame, name: str) -> DataFrame:
    """Fail the row whose blob did not decode, in the consumer's pass."""
    err = F.col("decode_error")
    return assert_in_row(df, "address", err.isNotNull(), name, err)


def build_full_history(
    spark: SparkSession,
    tables: PipelineTables,
    prune: bool = False,
    num_partitions: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Raw tables → sorted state_history (the reference's stages A+C+D+E).

    prune=True keeps only the trailing PRUNE_WINDOW blocks of history
    (earliest = latest - 90000 + 1), exactly the reference's -P semantics.

    strict=True checks every row in the build's own pass, as the reference
    hard-errors mid-scan (erigon_extract.c:1561-1576, 1703-1719, 294-300):
    PlainState key lengths, account decode, code-hash consistency and
    storage decode. A violating row fails the action that consumes the
    result with ``"<check>: <detail>"``; a failed ``write_full_history``
    leaves no ``_SUCCESS``, as the reference aborts mid-write. The only job
    construction launches is ``latest_block``'s.
    """
    latest = latest_block(tables)
    earliest = latest - PRUNE_WINDOW + 1 if prune else None

    plain_state = tables.plain_state
    if strict:
        plain_state = assert_in_row(
            plain_state, "key", malformed_key(),
            "plain_state key lengths",
            F.concat(F.lit("key of "), F.length("key").cast("string"), F.lit(" bytes")),
        )

    acct = decode_account_changesets(
        tables.account_changesets, block_start=earliest, block_end=latest
    )
    if strict:
        acct = _decoded(acct, "account decode")
    acct = recover_code_hashes(acct.drop("decode_error"), tables.plain_code_hash)
    if strict:
        acct = assert_in_row(
            acct, "address", code_hash_inconsistent(), "code-hash consistency",
            F.concat(F.lit("incarnation 0 with code hash 0x"), F.hex("code_hash")),
        )

    stor = decode_storage_changesets(
        tables.storage_changesets, block_start=earliest, block_end=latest
    )
    if strict:
        stor = _decoded(stor, "storage decode")
    stor = stor.drop("decode_error")

    ps_a, ps_s = split_plain_state(plain_state)
    ps_acct = recover_code_hashes(
        decode_account_changesets(ps_a).drop("decode_error"),
        tables.plain_code_hash,
    )
    ps_stor = decode_storage_changesets(ps_s).drop("decode_error")

    return build_state_history(
        acct, stor, ps_acct, ps_stor, num_partitions=num_partitions
    )


def write_full_history(sh: DataFrame, out_path: str) -> dict:
    """Persist the state history sorted (Parquet row-group stats = the
    seekable-pages property) and write the counts manifest (K3, with the
    reference's words[6] double-assignment defect fixed by construction).

    ``sh`` must come from ``build_state_history`` (or ``build_full_history``):
    the write adds no shuffle. The transpose's range key
    (address, kind, __key_inc, slot) never splits an account version group
    and equals the store key on storage rows, so its partitions are already
    in store order; sorting within each one gives a globally ordered store.
    """
    from erigon_extract_spark.sources.tables import write_manifest, write_sorted_parquet

    write_sorted_parquet(
        sh,
        out_path,
        sort_cols=["address", "kind", "incarnation", "slot", "block_from"],
    )
    out = sh.sparkSession.read.parquet(out_path)
    return write_manifest(out, out_path)
