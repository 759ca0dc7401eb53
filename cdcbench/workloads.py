"""Workload definitions shared by the generator and the measured process.

Every size here is fixed: the seed changes keys, ops and payloads, never
event, block, file or URL counts, so two seeds do the same amount of work.
"""

from __future__ import annotations

WORKLOADS = {
    # Catch-up of a backlog into a copy-on-write table: a few big triggers
    # per drain, so per-event compute (extraction UDF, LWW shuffle,
    # log/undo/audit writes, COW bucket rewrite) dominates per-batch cost.
    "backfill": {
        "mode": "cow",
        "events_per_block": 1000,
        "blocks": 24,
        "blocks_per_file": 12,  # one file per trigger: 12k events
        "n_urls": 60_000,
        "zipf_s": 0.2,
        "delete_p": 0.1,
        "revert_every": 13,  # one revert: block 12 reverts block 11, across triggers
        "compact_every": None,
        "outbox": False,
        "retention_blocks": 100,
        # the warm-up (timed inside setup_s) drains the whole measured
        # changelog (an empty-table and a populated-table trigger) into a
        # pipeline that is then reset, so the measured drain reuses its
        # query plans and generated code
        "warm_blocks": 0,
        "rounds": 5,  # of a lookup, scans and a replay
    },
    # Follow mode: one small block per trigger into a merge-on-read table
    # with compaction and the outbox on, so the fixed and O(retained
    # history) per-batch costs dominate.
    "tail": {
        "mode": "mor",
        "events_per_block": 100,
        "blocks": 3,
        "blocks_per_file": 1,  # one block per trigger
        "n_urls": 2_000,
        "zipf_s": 0.2,
        "delete_p": 0.1,
        # no revert in the 4-block stream: alike triggers, so the jobs-per-
        # batch slope is the retained-history term alone
        "revert_every": 10,
        "compact_every": 4,
        "outbox": True,
        "retention_blocks": 100,  # >= triggers: history grows every trigger
        # the warm-up (timed inside setup_s) is the stream's first block;
        # the measured triggers continue the same stream and checkpoint
        "warm_blocks": 1,
        "rounds": 5,
    },
}
