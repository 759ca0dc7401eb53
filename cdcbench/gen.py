"""Seeded changelog generator, run in its own process before measuring.

Usage::

    python3 cdcbench/gen.py --workload backfill --seed 1 --out DIR

writes one changelog as ``part-NNNNN.parquet`` files, one per trigger: the
warm-up prefix under ``DIR/warm`` and the measured rest under ``DIR/main``,
with mtimes stamped in name order so the file-stream source delivers them
in op_seq order, plus ``DIR/spec.json`` with the counts. ``DIR/DONE`` is written
last, so a half-written directory is never reused.

Only pyarrow and numpy are used (no JVM), so generation stays cheap and
outside the measured process.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench.workloads import WORKLOADS  # noqa: E402

# Arrow twin of gnarly_spark.fixtures.CHANGELOG_DDL (checked in the tests)
SCHEMA = pa.schema([
    ("op_seq", pa.int64()),
    ("block_id", pa.int64()),
    ("block_hash", pa.string()),
    ("parent_hash", pa.string()),
    ("op", pa.string()),
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("lang", pa.string()),
    ("revert_of_block", pa.string()),
    ("reason", pa.string()),
])

EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
LANGS = ["en", "de", "fr", "es"]
WORDS = (
    "lake merge block crawl page fork revert index table snapshot delta "
    "outbox reducer replay stream commit batch shard bucket manifest "
    "schema audit undo log state key value event change capture"
).split()
PARAS_PER_PAGE = 6
REASON = {"insert": "PAGE_CRAWLED", "update": "PAGE_RECRAWLED", "delete": "PAGE_DELETED"}


def _block_hash(seed: int, block_id: int) -> str:
    return hashlib.sha256(f"{seed}:block:{block_id}".encode()).hexdigest()[:16]


def _paragraphs(rng: np.random.Generator, n: int = 256) -> list[str]:
    """A seeded pool of body paragraphs the pages draw from."""
    words = np.array(WORDS, dtype=object)
    return [
        f"<p>{' '.join(words[rng.integers(len(WORDS), size=8)])} &amp; more "
        "&lt;raw&gt;</p>"
        for _ in range(n)
    ]


def _html(url: str, op_seq: int, paras: str) -> bytes:
    return (
        f"<html><head><title>{url} v{op_seq}</title>"
        "<style>.x{color:red}</style>"
        f"<script>var v={op_seq};</script></head>"
        f"<!-- crawl {op_seq} --><body><h1>Page&nbsp;{op_seq}</h1>"
        f"{paras}</body></html>"
    ).encode()


def changelog(
    seed: int,
    blocks: int,
    events_per_block: int,
    n_urls: int,
    zipf_s: float,
    delete_p: float,
    revert_every: int,
) -> pa.Table:
    """One changelog: ``blocks`` blocks of ``events_per_block`` events.

    Every ``revert_every``-th block opens with a revert event naming the
    block before it (a one-block reorg, carried as data). URLs follow a
    Zipf(``zipf_s``) law over a seed-shuffled universe of ``n_urls`` keys;
    a URL's first event is an insert, later ones update or, with
    probability ``delete_p``, delete."""
    rng = np.random.default_rng(seed)
    n = blocks * events_per_block
    ranks = np.arange(1, n_urls + 1, dtype=float)
    p = ranks ** (-zipf_s)
    p /= p.sum()
    perm = rng.permutation(n_urls)
    key = perm[rng.choice(n_urls, size=n, p=p)]
    urls = np.array(
        [f"https://site-{k % 53}.example/{seed:x}/page/{k}" for k in range(n_urls)],
        dtype=object,
    )[key]
    first = np.zeros(n, dtype=bool)
    first[np.unique(key, return_index=True)[1]] = True
    ops = np.where(first, "insert", np.where(rng.random(n) < delete_p, "delete", "update"))
    block = np.repeat(np.arange(blocks), events_per_block)
    pos = np.tile(np.arange(events_per_block), blocks)
    seq = 1 + np.arange(n)
    hashes = [_block_hash(seed, b) for b in range(blocks)]
    hashes_prev = ["genesis"] + hashes
    ts = EPOCH_US + block * 60_000_000 + (pos // 2) * 1_000_000

    is_revert = np.zeros(n, dtype=bool)
    if revert_every:
        for b in range(revert_every - 1, blocks, revert_every):
            is_revert[b * events_per_block] = True
    ops = np.where(is_revert, "revert", ops).astype(object)
    pool = _paragraphs(rng)
    pick = rng.integers(len(pool), size=(n, PARAS_PER_PAGE))
    html = [
        None if o in ("delete", "revert")
        else _html(u, s, "".join(pool[i] for i in pk))
        for o, u, s, pk in zip(ops, urls, seq.tolist(), pick)
    ]
    return pa.table(
        {
            "op_seq": seq,
            "block_id": block,
            "block_hash": [hashes[b] for b in block],
            "parent_hash": [hashes_prev[b] for b in block],
            "op": ops,
            "url": np.where(is_revert, None, urls),
            "warc_ts": ts,
            "html": html,
            "lang": np.where(is_revert, None, np.array(LANGS, dtype=object)[key % 4]),
            "revert_of_block": [
                hashes_prev[b] if r else None for b, r in zip(block, is_revert)
            ],
            "reason": [REASON.get(o, "ROLLBACK") for o in ops],
        },
        schema=SCHEMA,
    )


def write_files(table: pa.Table, out: str, w: dict) -> tuple[int, int]:
    """One parquet file per trigger: the warm-up prefix into ``out/warm``,
    the rest into ``out/main``. Names follow op_seq order across both dirs
    and mtimes are stamped in name order in one pass (the file-stream
    source orders by mtime), so a stream fed warm files first and main
    files next delivers every block in order."""
    from gnarly_spark.sources.changelog import order_files_by_name

    per_block = w["events_per_block"]
    warm_rows = w["warm_blocks"] * per_block
    cuts = list(range(0, warm_rows, per_block))  # one warm-up block per file
    cuts += list(range(warm_rows, table.num_rows, w["blocks_per_file"] * per_block))
    stage = os.path.join(out, "stage")
    os.makedirs(stage)
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:] + [table.num_rows])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(stage, f"part-{i:05d}.parquet"))
    order_files_by_name(stage, "part-*")
    n_warm = sum(1 for c in cuts if c < warm_rows)
    for sub in ("warm", "main"):
        os.makedirs(os.path.join(out, sub))
    for i, name in enumerate(sorted(os.listdir(stage))):
        sub = "warm" if i < n_warm else "main"
        os.rename(os.path.join(stage, name), os.path.join(out, sub, name))
    os.rmdir(stage)
    return n_warm, len(cuts) - n_warm


def generate(workload: str, seed: int, out: str) -> dict:
    """The workload's changelog: ``warm_blocks`` warm-up blocks, then
    ``blocks`` measured blocks. Counts depend on the workload only."""
    w = WORKLOADS[workload]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    table = changelog(
        seed,
        w["warm_blocks"] + w["blocks"],
        events_per_block=w["events_per_block"],
        n_urls=w["n_urls"],
        zipf_s=w["zipf_s"],
        delete_p=w["delete_p"],
        revert_every=w["revert_every"],
    )
    warm_files, main_files = write_files(table, out, w)
    spec = {
        "workload": workload,
        "seed": seed,
        "warm_events": w["warm_blocks"] * w["events_per_block"],
        "warm_files": warm_files,
        "events": w["blocks"] * w["events_per_block"],
        "files": main_files,
        "blocks": w["warm_blocks"] + w["blocks"],
        "n_urls": w["n_urls"],
    }
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f)
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    return spec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()
