"""The replica store — the sink-side upsert target, as one bucket.

The reference sinks into one engine, ReplacingMergeTree(ver,
is_deleted) (adapter/mod.rs:90-105): inserts append parts, merges run
later, FINAL dedups at read. ``BucketedReplicaStore`` is that engine;
a table with no ``sink_buckets`` is its one-bucket case, so every
table shares one merge, one commit protocol, one truncate and one read
path.
"""

from __future__ import annotations

from clockpipe_spark.streaming.bucketed_replica import BucketedReplicaStore


class ReplicaStore(BucketedReplicaStore):
    def __init__(self, root: str, n_buckets: int = 1, compact_every: int = 8):
        super().__init__(root, n_buckets, compact_every)
