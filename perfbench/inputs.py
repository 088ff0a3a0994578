"""Workload definitions and the seeded pages-table generator.

Every page is ``fixtures.distributed_row(i, ...)`` for an id ``i`` the seed
picks, so the program sees the same five-column table its own fixtures and
oracles use. The ids come as ``blocks`` runs of ``block_len`` consecutive
ids, one surface period apart. ``distributed_row`` draws a page's email,
phone and url surfaces from ``i`` modulo a period of
``2000 * surface_scale`` ids (1000 and 500 for phones and urls, which divide
it), so every block repeats the first block's surfaces: ``block_len`` sets
the size of the mention vocabulary and ``blocks`` multiplies the pages that
share it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ner_backend_spark import fixtures

# the surface period at surface_scale=1: distributed_row uses
# max(2000, n // 120) distinct email ids, which is 2000 for n <= 240000
SURFACE_PERIOD = 2000
N_FILES = 8
SAMPLE_URLS = 200
# seeds 0 .. SEED_SLOTS-1 give distinct id ranges; others wrap (see page_ids)
SEED_SLOTS = 49_999
# ids of different seeds start this far apart: a multiple of every
# workload's surface period
SEED_STRIDE = 20_000


@dataclass(frozen=True)
class Workload:
    name: str
    blocks: int
    block_len: int
    surface_scale: int
    # the traced run also runs the deploy's durable path on this many of
    # the workload's pages (0: it does not)
    durable_pages: int = 0

    @property
    def n_pages(self) -> int:
        return self.blocks * self.block_len


# why each workload exists is recorded in BENCHMARK.json
WORKLOADS = {
    w.name: w
    for w in [
        Workload("ner_dense", blocks=24, block_len=250, surface_scale=1,
                 durable_pages=2000),
        Workload("kg_wide", blocks=1, block_len=1200, surface_scale=10),
    ]
}


def page_ids(w: Workload, seed: int) -> list[int]:
    """The seed's ids: a seed-derived base, then ``w.blocks`` runs of
    ``w.block_len`` consecutive ids spaced one surface period apart.

    The base is a multiple of the surface period, so every seed draws the
    same surfaces and mention vocabulary and the seed changes only the pages'
    random draws (which surfaces a page mentions, its filler text, domain and
    timestamp): starting at other offsets changed the digits of the email
    surfaces and with them the LSH candidate pairs by up to 35% between seeds.
    Any integer seed is folded into ``SEED_SLOTS`` bases near or below 1e9,
    because ``distributed_row`` stamps page ``i`` 37 * i seconds after
    2024-01-01 and an id past ~6.8e9 overflows the datetime range."""
    base = 10_000_000 + (seed % SEED_SLOTS) * SEED_STRIDE
    period = SURFACE_PERIOD * w.surface_scale
    return [
        base + k * period + j for k in range(w.blocks) for j in range(w.block_len)
    ]


def rows(w: Workload, seed: int) -> list[tuple]:
    """(url, warc_ts, html, text, lang) rows of the workload's pages table."""
    n = w.n_pages
    if n > 120 * SURFACE_PERIOD:
        raise ValueError(f"{w.name}: {n} pages would change the surface period")
    return [
        fixtures.distributed_row(i, n, surface_scale=w.surface_scale)
        for i in page_ids(w, seed)
    ]


def write_pages(path: str, page_rows: list[tuple]) -> int:
    """Write the rows as ``N_FILES`` parquet files; returns the table's bytes."""
    cols = list(zip(*page_rows))
    table = pa.Table.from_arrays(
        [pa.array(c) for c in cols],
        schema=pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        ),
    )
    os.makedirs(path, exist_ok=True)
    n = len(page_rows)
    total = 0
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        f = os.path.join(path, f"part-{k:02d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        total += os.path.getsize(f)
    return total


def sample_urls(page_rows: list[tuple]) -> list[str]:
    """A fixed, evenly spaced sample of the table's urls."""
    step = max(1, len(page_rows) // SAMPLE_URLS)
    return [r[0] for r in page_rows[::step]]
