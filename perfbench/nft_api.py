"""The seeded NFT collection API behind the ``etl_ingest`` fixture.

Pure Python (no numpy), so the benchmark process that imports it for the
expected results carries no generator libraries into its peak memory.
The same seed gives byte-identical bodies and expectations.
"""

from __future__ import annotations

import json
import random

TRAITS = {
    "color": ["black", "blue", "gold", "green", "red", "silver", "white"],
    "tier": ["0", "1", "2", "3", "4"],
    "shape": ["circle", "hex", "square", "star", "triangle"],
}


class NftApi:
    """The seeded collection: ``n_pages`` pages of ``per_page`` items; item
    i points at metadata document ``meta_of[i]``, each of ``n_meta``
    documents shared by ``per_page * n_pages / n_meta`` items in a
    seed-permuted assignment; every document carries one trait per type."""

    def __init__(self, seed: int, n_pages: int, per_page: int, n_meta: int) -> None:
        rng = random.Random(seed)
        n_items = n_pages * per_page
        self.n_pages, self.per_page, self.n_meta = n_pages, per_page, n_meta
        self.meta_of = [i % n_meta for i in range(n_items)]
        rng.shuffle(self.meta_of)
        self.traits = [
            [{"trait_type": t, "value": rng.choice(vals)} for t, vals in TRAITS.items()]
            for _ in range(n_meta)
        ]

    @property
    def n_items(self) -> int:
        return self.n_pages * self.per_page

    def page(self, p: int, base: str) -> dict:
        items = []
        for i in range(p * self.per_page, (p + 1) * self.per_page):
            items.append({
                "identifier": str(i),
                "collection": "bench",
                "contract": "0xbench",
                "token_standard": "erc721",
                "name": f"Bench #{i}",
                "metadata_url": f"{base}/meta/{self.meta_of[i]}",
            })
        nxt = f"{base}/page/{p + 1}" if p + 1 < self.n_pages else None
        return {"items": items, "next": nxt}

    def meta(self, m: int) -> dict:
        return {"attributes": self.traits[m]}

    def bodies(self, base: str) -> dict[str, bytes]:
        """Every served path with its pre-serialized JSON body."""
        out = {f"/page/{p}": json.dumps(self.page(p, base)).encode() for p in range(self.n_pages)}
        out.update({f"/meta/{m}": json.dumps(self.meta(m)).encode() for m in range(self.n_meta)})
        return out

    def top_traits(self, k: int = 10) -> list[tuple[str, str, int]]:
        """Expected read-back aggregation: (trait_type, value, count) by
        count desc, then trait_type, value — computed in pure Python."""
        counts: dict[tuple[str, str], int] = {}
        for m in self.meta_of:
            for t in self.traits[m]:
                key = (t["trait_type"], t["value"])
                counts[key] = counts.get(key, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        return [(t, v, c) for (t, v), c in ranked[:k]]
