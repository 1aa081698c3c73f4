"""Seeded inputs of the benchmark: sizes, rates, payload codes, the
filter templates, the request mix and the update schedule.

``--seed`` alone drives the product fixture, which products are held
out as queries, the template order, the query choice per request and
the update schedule. The library receives only what is generated here.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

N_QUERIES = 200           # held-out products whose embeddings are queries
K = 100                   # top-k of every read (the reference's LIMIT 100)
READ_QPS = 50             # read phase: open loop, ANN and exact alternating
RW_SECONDS = 3.0          # rw phase: length of the update schedule and of its reads
RW_READ_QPS = 20          # rw phase: ANN reads beside the writer
WRITE_RATE = 20           # rw phase: single-object updates arriving per second

# Payload codes. build_pq_index's payload columns must be integers, so
# the three categorical columns travel as codes.
CATEGORIES = (
    "Books", "Automotive", "Tools & Home Improvement", "All Beauty",
    "Computers", "Buy a Kindle", "Garden", "Toys", "Music", "Office",
    "Pet Supplies", "Grocery", "Sports", "Baby", "Software", "Appliances",
)
NO_CATEGORY = 99
CAT = {name: i for i, name in enumerate(CATEGORIES)}
TIERS = ("low", "medium", "high", "excellent")
VOLUMES = ("few", "moderate", "many", "popular")

# The reference's four read templates as IN-lists on the payload codes,
# plus the Books slice (41% of rows, the skewed key).
#   0.001%: average_rating <= 3.0 AND rating_number > 130 AND Computers
#   0.1%:   average_rating <= 3.5 AND rating_number > 15  AND Computers
#   1%:     average_rating >= 3.5 AND rating_number > 10  AND Computers
#   10%:    main_category IN (Computers, All Beauty, Buy a Kindle)
TEMPLATES = {
    "t0.001pct": {"cat": [CAT["Computers"]], "tier": [0], "vol": [2, 3]},
    "t0.1pct": {"cat": [CAT["Computers"]], "tier": [0, 1], "vol": [1, 2, 3]},
    "t1pct": {"cat": [CAT["Computers"]], "tier": [2, 3], "vol": [1, 2, 3]},
    "t10pct": {"cat": [CAT["Computers"], CAT["All Beauty"], CAT["Buy a Kindle"]]},
    "books": {"cat": [CAT["Books"]]},
}

# The read phase's ANN requests cycle through every template; its exact
# requests cycle Books, Books, Computers, so that their median lies
# inside the Books mode (the skewed key) rather than on the boundary
# between two modes of a half-and-half mix.
ANN_TEMPLATES = tuple(TEMPLATES)
EXACT_LABELS = ("Books", "Books", "Computers")
RW_TEMPLATE = "t1pct"     # the ANN reads beside the writer
RERANK = 250              # topk_rerank's default candidate count

# The workloads differ only in corpus size, the working set of every
# layer: rows per exact read, whether a template selects more rows than
# RERANK (then PQ's ADC stage prunes; otherwise it scores every match,
# which is exact), bytes per bucket rewritten by a commit, and rows per
# build job. In `small` only the Books template exceeds RERANK, in
# `large` the 10% template does too.
WORKLOADS = {"small": 1_000, "large": 2_500}

_WORDS = (
    "ultra", "compact", "wireless", "deluxe", "classic", "portable",
    "premium", "smart", "heavy", "duty", "mini", "pro", "eco", "quiet",
    "rapid", "solid", "bright", "modular", "silver", "carbon",
)


@dataclass(frozen=True)
class Read:
    kind: str        # "ann" or "exact"
    query: int       # index into the held-out queries
    template: str    # ann: template name; exact: category name


@dataclass(frozen=True)
class Update:
    due: float       # seconds after the phase start
    key: int         # existing product key
    title: str       # new text
    op_ts: int       # monotonically increasing per update


def read_mix(seed: int, n: int) -> list[Read]:
    """Read phase requests: even ones ANN over ANN_TEMPLATES, odd ones
    exact over EXACT_LABELS, each cycle in a seeded order."""
    rng = random.Random(f"read-{seed}")
    ann = list(ANN_TEMPLATES)
    exact = list(EXACT_LABELS)
    rng.shuffle(ann)
    rng.shuffle(exact)
    out = []
    for i in range(n):
        q = rng.randrange(N_QUERIES)
        if i % 2 == 0:
            out.append(Read("ann", q, ann[(i // 2) % len(ann)]))
        else:
            out.append(Read("exact", q, exact[(i // 2) % len(exact)]))
    return out


def rw_reads(seed: int, n: int) -> list[Read]:
    rng = random.Random(f"rw-read-{seed}")
    return [Read("ann", rng.randrange(N_QUERIES), RW_TEMPLATE) for _ in range(n)]


def update_schedule(seed: int, seconds: float, n_corpus: int) -> list[Update]:
    """WRITE_RATE updates per second: each a new title for a random
    existing key."""
    rng = random.Random(f"updates-{seed}")
    n = int(seconds * WRITE_RATE)
    return [
        Update(
            due=j / WRITE_RATE,
            key=rng.randrange(n_corpus),
            title=" ".join(rng.choice(_WORDS) for _ in range(rng.randint(2, 8))),
            op_ts=j + 1,
        )
        for j in range(n)
    ]
