"""Per-epoch serving order for a packed corpus — the trainer's read plan.

The packing layer (``packing.pack_sequences`` and the two ladders) fixes
WHICH tokens land in which fixed-``ctx_len`` window; this module fixes the
ORDER a trainer visits those windows, per epoch, deterministically, with a
resume point that survives restarts. It is the last step of the trainer
handoff the r14/r15 work made destination-complete: the windows and the
tokenizer already travel with the corpus, and the *schedule* is a pure
function of (seed, epoch, n_shards) — a trainer resuming at global step S on
a different cluster reads exactly the windows the crashed run would have
read next.

Design (the standard two-level shuffle, expressed Spark-first):

- **Shard assignment is epoch-stable**: ``shard_id = md5-bucket(pack_id) %
  n_shards``. Physical placement never changes between epochs, so the
  per-shard files written once are re-read every epoch; only the (cheap,
  metadata-sized) visit order changes.
- **Within a shard, packs are visited in md5 order keyed by (seed, epoch)**
  — a fresh deterministic permutation every epoch, no RNG state anywhere.
- **Shards are visited in md5 order keyed by (seed, epoch) too**, and
  ``global_step`` is ``shard_offset + shard_pos - 1`` where the offsets are
  the running pack-counts of the shards in visit order. The result is a
  bijection packs → [0, n_packs) per epoch: a true global permutation,
  computed with ONE window shuffle on the shard key plus one ``n_shards``-row
  aggregate joined back by broadcast — no global sort of the corpus.

Scale shape at 100 TB (~10^10 packs): the per-shard window bounds every
task's sort to ``n_packs / n_shards`` rows (size ``n_shards`` for the
cluster, thousands are fine — the offset aggregate stays tiny); resume is
a filter on ``global_step``.

Every expression is the md5 idiom shared with ``sampling`` (DuckDB-identical,
hash-gated in the ``pipeline_pack_split`` ``order`` branch).

Reference frame: the connector's delivery contract is idempotent replay from
a committed offset (`/root/reference/src/main/java/io/aiven/kafka/connect/s3/
S3SinkTask.java:121-124` — flush cycle keyed by start offset). ``global_step``
is that same contract turned toward the trainer: a committed step number
identifies exactly the remaining work, on any cluster, with no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_connector_s3_sink_spark.operators.sampling import (
    hash_bucket,
    shuffle_key,
)


def serving_order(
    packs: DataFrame,
    n_shards: int,
    epoch: int = 0,
    seed: str = "serve",
    pack_id_col: str = "pack_id",
) -> DataFrame:
    """Assign every pack its epoch-``epoch`` serving position.

    Input grain: one row per pack (aggregate a segment-grain layout with
    ``packs_of_layout`` first). Output adds:

    - ``shard_id`` — epoch-stable physical shard, ``md5-bucket % n_shards``;
    - ``shard_pos`` — 1-based visit position within the shard this epoch;
    - ``global_step`` — 0-based global visit position this epoch, a
      bijection onto [0, n_packs);
    - ``epoch`` — the epoch the order is for (the permutation key).

    Plan: one window shuffle partitioned on ``shard_id`` (each task sorts
    one shard's packs by the epoch's md5 key) + an ``n_shards``-row count
    aggregate, prefix-summed in shard *visit* order and broadcast back.
    Nothing global is sorted; nothing is collected.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    if epoch < 0:
        raise ValueError(f"epoch must be >= 0, got {epoch}")
    pid = F.col(pack_id_col)
    sharded = packs.withColumn(
        "shard_id",
        (hash_bucket(pid, f"{seed}:shard") % n_shards).cast("long"),
    ).withColumn("_okey", shuffle_key(pid, f"{seed}:{epoch}"))
    w_pos = Window.partitionBy("shard_id").orderBy(
        F.col("_okey").asc(), pid.asc()
    )
    positioned = sharded.withColumn(
        "shard_pos", F.row_number().over(w_pos).cast("long")
    )
    # shard visit order this epoch: md5 over the shard id — the offsets
    # frame is n_shards rows, so the single-task window below is bounded
    # by config, not data (same argument as pack_sequences' offset window)
    counts = sharded.groupBy("shard_id").agg(F.count("*").alias("_n"))
    visit = counts.withColumn(
        "_skey",
        F.md5(
            F.concat(
                F.lit(f"{seed}:{epoch}:shard:"),
                F.col("shard_id").cast("string"),
            )
        ),
    )
    w_off = Window.orderBy(
        F.col("_skey").asc(), F.col("shard_id").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    offsets = visit.select(
        "shard_id",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0))
        .cast("long")
        .alias("_shard_off"),
    )
    return (
        positioned.join(F.broadcast(offsets), "shard_id")
        .withColumn(
            "global_step", F.col("_shard_off") + F.col("shard_pos") - 1
        )
        .withColumn("epoch", F.lit(epoch).cast("int"))
        .drop("_okey", "_shard_off")
    )


def packs_of_layout(
    layout: DataFrame,
    pack_id_col: str = "pack_id",
    seg_tokens_col: str = "seg_tokens",
) -> DataFrame:
    """Collapse a segment-grain pack layout (``pack_sequences`` output) to
    the pack grain ``(pack_id, pack_tokens)`` — the input ``serving_order``
    schedules. One map-side-combined aggregation."""
    return layout.groupBy(pack_id_col).agg(
        F.sum(seg_tokens_col).cast("long").alias("pack_tokens")
    )
