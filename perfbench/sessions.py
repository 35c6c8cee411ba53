"""Seeded session-record generator for the ETL workloads.

Records have the reference payload shape (session_id, customer_number,
city, country, credit_limit, browse_history[product_code, quantity,
in_shopping_cart]). Quantities travel as strings, as on the reference
wire. A fixed share of payloads is malformed JSON.

The expected route and T2-T4 values of every well-formed record are
computed here in plain Python; the program under test only ever sees
the stream files this module writes.

Stream layout written (the kinesis_sim on-disk protocol):
``<stream>/shard-0000N/part-<8-digit index>-<tag>.jsonl``, one
``{"partitionKey", "data"}`` envelope per line, shard =
``crc32(partitionKey) % num_shards``. Files are written under a hidden
name and renamed into place, so a reader never sees a partial file.
"""

from __future__ import annotations

import json
import os
import random
import zlib
from dataclasses import dataclass

NUM_SHARDS = 4
USA_SHARE = 0.4
MALFORMED_EVERY = 200  # one record in 200 is malformed JSON (0.5%)

_CITIES = {
    "USA": ["Seattle", "Austin", "Boston", "Denver", "Chicago"],
    "Canada": ["Toronto", "Montreal"],
    "Mexico": ["Monterrey", "Guadalajara"],
    "Germany": ["Berlin", "Hamburg"],
    "Japan": ["Osaka", "Sapporo"],
    "Brazil": ["Recife"],
}
_OTHER_COUNTRIES = [c for c in _CITIES if c != "USA"]


@dataclass(frozen=True)
class Expected:
    """What the ETL must deliver for one well-formed record."""

    route: str  # "USA" or "International"
    overall_product_quantity: int
    overall_in_shopping_cart: int
    total_different_products: int


@dataclass(frozen=True)
class Record:
    key: str  # partition key (session_id; for malformed payloads too)
    payload: str  # the JSON text the program receives
    expected: Expected | None  # None for malformed payloads


class SessionGenerator:
    """Deterministic record stream: record i depends only on (seed, i)."""

    def __init__(self, seed: int):
        self.seed = seed
        self._rng = random.Random(seed)
        self._malformed_phase = self._rng.randrange(MALFORMED_EVERY)
        self._n = 0

    def take(self, count: int) -> list[Record]:
        return [self._next() for _ in range(count)]

    def _next(self) -> Record:
        i, rng = self._n, self._rng
        self._n += 1
        sid = f"s{self.seed}-{i:08d}"
        country = "USA" if rng.random() < USA_SHARE else rng.choice(_OTHER_COUNTRIES)
        items = []
        for _ in range(rng.randint(1, 12)):
            items.append(
                {
                    "product_code": f"P{rng.randrange(10_000):05d}",
                    "quantity": str(rng.randint(1, 20)),
                    "in_shopping_cart": rng.random() < 0.3,
                }
            )
        rec = {
            "session_id": sid,
            "customer_number": rng.randrange(1, 1_000_000),
            "city": rng.choice(_CITIES[country]),
            "country": country,
            "credit_limit": rng.randrange(500, 50_000),
            "browse_history": items,
        }
        text = json.dumps(rec, separators=(",", ":"))
        if i % MALFORMED_EVERY == self._malformed_phase:
            # Truncated mid-document: unparseable, so it lands in the
            # reader's corrupt-record column.
            return Record(sid, text[: len(text) // 2], None)
        qty = [int(x["quantity"]) for x in items]
        return Record(
            sid,
            text,
            Expected(
                route="USA" if country == "USA" else "International",
                overall_product_quantity=sum(qty),
                overall_in_shopping_cart=sum(
                    q for q, x in zip(qty, items) if x["in_shopping_cart"]
                ),
                total_different_products=len(items),
            ),
        )


def shard_of(key: str, num_shards: int = NUM_SHARDS) -> int:
    return zlib.crc32(key.encode("utf-8")) % num_shards


class StreamWriter:
    """Appends record files to a kinesis_sim source stream directory."""

    def __init__(self, stream_dir: str, num_shards: int = NUM_SHARDS):
        self.stream_dir = stream_dir
        self.num_shards = num_shards
        self._next_index = []
        for s in range(num_shards):
            os.makedirs(self._shard_dir(s), exist_ok=True)
            existing = [f for f in os.listdir(self._shard_dir(s)) if f.endswith(".jsonl")]
            self._next_index.append(len(existing))

    def _shard_dir(self, shard: int) -> str:
        return os.path.join(self.stream_dir, f"shard-{shard:05d}")

    def append(self, records: list[Record]) -> None:
        """One new part file per shard that receives records."""
        by_shard: dict[int, list[str]] = {}
        for r in records:
            env = json.dumps({"partitionKey": r.key, "data": r.payload})
            by_shard.setdefault(shard_of(r.key, self.num_shards), []).append(env)
        for shard, lines in by_shard.items():
            idx = self._next_index[shard]
            self._next_index[shard] = idx + 1
            final = os.path.join(self._shard_dir(shard), f"part-{idx:08d}-gen.jsonl")
            tmp = os.path.join(self._shard_dir(shard), f".part-{idx:08d}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, final)
