"""Seeded workload generator.

Builds an ``events`` table (the schema of the engine's testdata) from
the seed, hands it to the engine's own ``synthesize_envelopes``, encodes
the envelopes with the engine's JSON or protobuf record codec, and
stages the raw records as parquet files whose boundaries the generator
controls. The engine only ever sees these generated record files.

What the seed controls: every event's timestamp offset, user, event
type and value; the row order across files; and which rows become
content duplicates and re-deliveries. Poison records go to fixed files.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "error", "purchase", "signup", "logout"]
# synthesize_envelopes picks the route arm from event_id % 10 and the
# app from (event_id // 10) % 50, so an id shift by a multiple of 500
# keeps both: the replica is routed and enriched like its original
ID_PERIOD = 500
POISON_BYTES = b"\x00\x01 not protobuf, not json"


@dataclass
class Staged:
    """What the generator wrote and what it injected."""

    files: list[Path]
    records: int  # raw records across all files, poison included
    poison: int
    redelivered: list[tuple[str, str]] = field(default_factory=list)  # (shard_id, sequence_number)


def events_table(
    seed: int,
    n: int,
    *,
    start: dt.datetime,
    spread_s: float,
    content_dups: int = 0,
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """``n`` distinct events plus ``content_dups`` replicas.

    Each event's ``props`` carries its own id, so two events share a log
    line only when the generator made one a replica of the other.
    Returns the table and the (replica_id, original_id) pairs."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n, dtype=np.int64)
    offs = np.sort(rng.uniform(0.0, spread_s, n))
    users = rng.integers(0, 150, n)
    etypes = rng.integers(0, len(EVENT_TYPES), n)
    values = np.round(rng.uniform(0.0, 100.0, n), 2)
    props = [f'{{"k": {i}}}' for i in ids]
    pairs: list[tuple[int, int]] = []
    if content_dups:
        orig = np.sort(rng.choice(n, size=content_dups, replace=False))
        shift = ID_PERIOD * (n // ID_PERIOD + 1)
        rep = orig + shift
        pairs = [(int(r), int(o)) for r, o in zip(rep, orig)]
        ids = np.concatenate([ids, rep])
        offs = np.concatenate([offs, offs[orig]])
        users = np.concatenate([users, users[orig]])
        etypes = np.concatenate([etypes, etypes[orig]])
        values = np.concatenate([values, values[orig]])
        props = props + [props[o] for o in orig]
    base = np.datetime64(start.replace(tzinfo=None), "us")
    ts = base + (offs * 1e6).astype("timedelta64[us]")
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in etypes], pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    return table, pairs


def encoded_records(spark, events_dir: Path, codec: str) -> pa.Table:
    """Events parquet -> raw Kinesis records through the engine's own
    synthesizer and record codec, collected as one Arrow table."""
    from cga_kinesis_to_elasticsearch_spark.sources.envelopes import synthesize_envelopes

    env = synthesize_envelopes(spark, str(events_dir), partitions=spark.sparkContext.defaultParallelism)
    if codec == "protobuf":
        from cga_kinesis_to_elasticsearch_spark.sources.protowire import encode_protobuf_records

        raw = encode_protobuf_records(env)
    else:
        from cga_kinesis_to_elasticsearch_spark.sources.records import encode_records

        raw = encode_records(env)
    return raw.toArrow()


def _poison_rows(n: int, arrival: dt.datetime, schema: pa.Schema) -> pa.Table:
    ts = pa.array([arrival] * n, pa.timestamp("us", tz="UTC"))
    return pa.table(
        {
            "shard_id": pa.array(["shard-x"] * n),
            "sequence_number": pa.array([f"poison-{i}" for i in range(n)]),
            "partition_key": pa.array(["pk"] * n),
            "arrival_ts": ts,
            "data": pa.array([POISON_BYTES] * n, pa.binary()),
        }
    ).cast(schema)


def stage_files(
    raw: pa.Table,
    out_dir: Path,
    *,
    seed: int,
    n_files: int,
    poison: int,
    redeliver: int,
    poison_files: int | None = None,
) -> Staged:
    """Shuffle ``raw`` and split it into ``n_files`` parquet files, in
    release order.

    ``poison`` corrupt payloads are spread evenly over ``poison_files``
    evenly spaced files (all files by default; every run puts them in the
    same files, so the cost of the error bucket lands on the same
    batches);
    ``redeliver`` records reappear verbatim in a later file than their
    first delivery (at-least-once Kinesis delivery)."""
    rng = np.random.default_rng(seed + 1)
    out_dir.mkdir(parents=True, exist_ok=True)
    raw = raw.take(pa.array(rng.permutation(raw.num_rows)))
    bounds = np.linspace(0, raw.num_rows, n_files + 1).astype(int)
    parts = [raw.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_files)]
    redelivered: list[tuple[str, str]] = []
    if redeliver:
        # pick records from the first half of the files and append each
        # to a file at least one position later
        first_half = int(bounds[max(1, n_files // 2)])
        picks = np.sort(rng.choice(first_half, size=redeliver, replace=False))
        for p in picks:
            src = int(np.searchsorted(bounds, p, side="right") - 1)
            dst = int(rng.integers(src + 1, n_files))
            parts[dst] = pa.concat_tables([parts[dst], raw.slice(int(p), 1)])
            row = raw.slice(int(p), 1).to_pylist()[0]
            redelivered.append((row["shard_id"], row["sequence_number"]))
    if poison:
        arrival = raw.column("arrival_ts")[0].as_py()
        bad = _poison_rows(poison, arrival, raw.schema)
        spaced = np.arange(poison_files or n_files) * n_files // (poison_files or n_files)
        slots = spaced[np.arange(poison) % len(spaced)]
        for f in range(n_files):
            mine = np.nonzero(slots == f)[0]
            if len(mine):
                parts[f] = pa.concat_tables([parts[f], bad.take(pa.array(mine))])
    files = []
    for i, part in enumerate(parts):
        path = out_dir / f"part-{i:05d}.parquet"
        pq.write_table(part, path)
        files.append(path)
    return Staged(
        files=files,
        records=sum(p.num_rows for p in parts),
        poison=poison,
        redelivered=redelivered,
    )


def write_events(table: pa.Table, events_dir: Path) -> None:
    events_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, events_dir / "events.parquet")
