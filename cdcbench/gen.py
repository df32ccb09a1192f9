"""Seeded Synapse Link export generator for the CDC benchmark.

Renders batch folders (``model.json`` plus headerless quoted CSV chunks)
for one workload into a staging directory and writes ``expected.json``:
for every folder its row count, the insert/update/delete counts a
downstream ``changes()`` reader must see after it is merged, and the
running digest of the target state the merge must leave behind.  The
stream under test only ever sees the rendered files; publishing them
(moving a folder into the source root and advancing
``Changelog/changelog.info``) is done by ``run.py`` between ticks.

Run as its own process so CSV rendering stays out of every timed and
CPU-counted window of the benchmark:

    python3 cdcbench/gen.py --workload trickle --seed 1 --out DIR --ticks 30

Row mix per change folder (shares of the folder's rows; the shares, the
skew and the revival rate are assumptions, with the reason for each in
README.md, "Traffic model"):

* updates: a new, strictly higher ``versionnumber`` for a live key.  Keys
  are drawn uniformly (``trickle``) or Zipf-skewed with exponent 0.99
  over a seeded rank order (``live_merge``); drawing with replacement
  makes some keys repeat inside one folder, so the latest-version dedup
  has to pick the highest version.
* inserts: a fresh key or, one time in ten, a key deleted in an earlier
  folder coming back with a higher version.
* deletes: a sparse delete row (key, a higher ``versionnumber``, the
  sentinel ``createdon``, ``IsDelete=True``).
* stale re-uploads: the key's current row byte for byte (equal version),
  which the version-guarded merge must ignore; one in ten re-uploads a
  key that the same folder deletes, which must still net to a delete.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import uuid
from bisect import bisect_left
from datetime import datetime, timedelta
from itertools import accumulate

ENTITY = "benchentity"

# CDM attributes of the generated entity: the type mix of a Dynamics
# export (guid key, both timestamp wire formats, shaped decimal, int64
# version columns, sparse-delete boolean).
COLUMNS = (
    ("Id", "guid"),
    ("SinkCreatedOn", "dateTime"),
    ("SinkModifiedOn", "dateTime"),
    ("sysrowversion", "int64"),
    ("versionnumber", "int64"),
    ("displayvalue", "string"),
    ("amount", "decimal"),
    ("quantity", "int64"),
    ("dataareaid", "string"),
    ("modifiedon", "dateTime"),
    ("createdon", "dateTimeOffset"),
    ("IsDelete", "boolean"),
)

BASE_VERSION = 5_000_000_000
START = datetime(2024, 1, 1, 0, 0, 0)

# Per-workload shape.  ``seed_rows`` land in the first folder; change
# folders then carry ``tick_rows`` rows split by ``mix`` (update, insert,
# delete, stale) and key draws skewed by ``zipf`` (0 = uniform; 0.99 is
# the zipfian constant of the YCSB core workloads).
WORKLOADS = {
    "trickle": {
        "seed_rows": 5_000,
        "tick_rows": 16,
        "mix": (0.5, 0.2, 0.1, 0.2),
        "zipf": 0.0,
    },
    "live_merge": {
        "seed_rows": 20_000,
        "tick_rows": 2_000,
        "mix": (0.55, 0.25, 0.05, 0.15),
        "zipf": 0.99,
    },
}


def model_json() -> str:
    attrs = []
    for name, dtype in COLUMNS:
        a = {"name": name, "dataType": dtype, "maxLength": -1}
        if dtype == "decimal":
            a["cdm:traits"] = [
                {
                    "traitReference": "is.dataFormat.numeric.shaped",
                    "arguments": [
                        {"name": "precision", "value": 18},
                        {"name": "scale", "value": 2},
                    ],
                }
            ]
        attrs.append(a)
    return json.dumps(
        {
            "name": "cdm",
            "version": "1.0",
            "entities": [{"$type": "LocalEntity", "name": ENTITY, "attributes": attrs}],
        }
    )


def key_of(seed: int, i: int) -> str:
    """Deterministic lowercase guid for key index ``i`` (lowercase, so the
    engine's ``arcane_merge_key`` equals ``Id``)."""
    return str(uuid.UUID(int=((seed & 0xFFFF) << 64) | i))


def folder_name(i: int) -> str:
    return (START + timedelta(minutes=i)).strftime("%Y-%m-%dT%H.%M.%S") + "Z"


def data_row(key: str, version: int, display: str) -> str:
    """One full change row; both timestamp wire formats of the export."""
    amount = f"{version % 100000}.{version % 100:02d}"
    return (
        f'{key},"1/7/2021 0:04:05 PM","1/7/2021 3:04:05 PM",{version},{version},'
        f'"{display}",{amount},{version % 977},"dat",'
        f'"2021-03-04T05:06:07.0000000Z","2021-03-04T05:06:07.0000000+00:00",'
    )


def delete_row(key: str, version: int) -> str:
    """Sparse delete row: key, versionnumber, sentinel createdon, IsDelete."""
    return (
        f'{key},"1/7/2021 0:04:05 PM","1/7/2021 3:04:05 PM",,{version},,,,,,'
        f'"0001-01-03T00:00:00.0000000",True'
    )


def row_hash(*parts: object) -> int:
    """First 60 bits of sha256 over ``|``-joined parts — the same value the
    benchmark recomputes on the Spark side for its state digest."""
    text = "|".join(str(p) for p in parts)
    return int(hashlib.sha256(text.encode()).hexdigest()[:15], 16)


class State:
    """Expected target state under merge semantics, with running digests."""

    def __init__(self) -> None:
        self.live: dict[int, tuple[int, str]] = {}  # key index -> (version, display)
        self.deleted: set[int] = set()
        self.key_digest = 0
        self.row_digest = 0
        self.keys: dict[int, str] = {}

    def _sub(self, i: int) -> None:
        v, d = self.live.pop(i)
        self.key_digest -= row_hash(self.keys[i])
        self.row_digest -= row_hash(self.keys[i], v, d)

    def _add(self, i: int, v: int, d: str) -> None:
        self.live[i] = (v, d)
        self.key_digest += row_hash(self.keys[i])
        self.row_digest += row_hash(self.keys[i], v, d)

    def apply(self, winners: dict[int, tuple[int, str | None]]) -> dict[str, int]:
        """Apply one folder's deduplicated rows (index -> (version, display
        or None for a delete)); returns the change counts it causes."""
        counts = {"insert": 0, "update": 0, "delete": 0}
        for i, (v, d) in winners.items():
            cur = self.live.get(i)
            if cur is not None and v <= cur[0]:
                continue  # stale: the version guard drops it
            if d is None:
                if cur is not None:
                    self._sub(i)
                    self.deleted.add(i)
                    counts["delete"] += 1
                continue
            if cur is not None:
                self._sub(i)
                counts["update"] += 1
            else:
                self.deleted.discard(i)
                counts["insert"] += 1
            self._add(i, v, d)
        return counts

    def summary(self) -> dict:
        return {
            "rows": len(self.live),
            "key_digest": str(self.key_digest),
            "row_digest": str(self.row_digest),
        }


class Generator:
    def __init__(self, workload: str, seed: int):
        self.cfg = WORKLOADS[workload]
        self.rng = random.Random(f"{workload}:{seed}")
        self.seed = seed
        self.state = State()
        self.next_key = 0
        self.version = BASE_VERSION
        self.live_order: list[int] = []  # rank order for key draws

    def _v(self) -> int:
        self.version += 1
        return self.version

    def _new_key(self) -> int:
        i = self.next_key
        self.next_key += 1
        self.state.keys[i] = key_of(self.seed, i)
        return i

    def _sampler(self):
        """Draw function over the keys alive now, with replacement: uniform,
        or Zipf over a fixed seeded rank order of the keys."""
        if self.cfg["zipf"] <= 0:
            live = list(self.state.live)
            return lambda: live[self.rng.randrange(len(live))]
        order = [i for i in self.live_order if i in self.state.live]
        s = self.cfg["zipf"]
        cum = list(accumulate(1.0 / (r + 1) ** s for r in range(len(order))))
        return lambda: order[bisect_left(cum, self.rng.random() * cum[-1])]

    def seed_folder(self) -> tuple[list[str], dict]:
        rows, winners = [], {}
        for _ in range(self.cfg["seed_rows"]):
            i = self._new_key()
            v = self._v()
            d = f"S{i}"
            rows.append(data_row(self.state.keys[i], v, d))
            winners[i] = (v, d)
        self.live_order = list(winners)
        self.rng.shuffle(self.live_order)
        return rows, self.state.apply(winners)

    def change_folder(self, tick: int) -> tuple[list[str], dict]:
        n = self.cfg["tick_rows"]
        u, ins, dl, _ = self.cfg["mix"]
        n_upd, n_ins, n_del = round(n * u), round(n * ins), round(n * dl)
        n_stale = n - n_upd - n_ins - n_del
        rows: list[str] = []
        winners: dict[int, tuple[int, str | None]] = {}

        def emit(i: int, v: int, d: str | None, text: str) -> None:
            rows.append(text)
            if i not in winners or v > winners[i][0]:
                winners[i] = (v, d)

        first_new = self.next_key
        draw = self._sampler()
        deletes = set(self.rng.sample(sorted(self.state.live), min(n_del, len(self.state.live))))
        revivable = sorted(self.state.deleted)
        for _ in range(n_upd):
            i = draw()
            if i in deletes:
                continue
            v = self._v()
            d = f"U{tick}-{v % 100000}"
            emit(i, v, d, data_row(self.state.keys[i], v, d))
        for _ in range(n_ins):
            if revivable and self.rng.random() < 0.1:
                i = revivable.pop(self.rng.randrange(len(revivable)))
            else:
                i = self._new_key()
            v = self._v()
            d = f"I{tick}-{i}"
            emit(i, v, d, data_row(self.state.keys[i], v, d))
        for i in sorted(deletes):
            emit(i, self._v(), None, delete_row(self.state.keys[i], self.version))
        # stale re-uploads: the key's current row (equal version); one in
        # ten targets a key this folder deletes, which must stay deleted
        deleted_now = sorted(deletes)
        for k in range(n_stale):
            if deleted_now and k % 10 == 0:
                i = self.rng.choice(deleted_now)
            else:
                i = draw()
                if i in winners:
                    continue
            v, d = self.state.live[i]
            emit(i, v, d, data_row(self.state.keys[i], v, d))
        self.rng.shuffle(rows)
        # fresh keys join the Zipf rank order at the cold end
        self.live_order.extend(range(first_new, self.next_key))
        return rows, self.state.apply(winners)


def write_folder(staging: str, name: str, rows: list[str]) -> int:
    d = os.path.join(staging, name, ENTITY)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(staging, name, "model.json"), "w") as fh:
        fh.write(model_json())
    path = os.path.join(d, "part-00000.csv")
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + "\n")
    return os.path.getsize(path)


def generate(workload: str, seed: int, out: str, ticks: int) -> dict:
    """Render every folder of ``workload`` under ``out/staged`` and write
    ``out/expected.json``; returns the expectation document."""
    staging = os.path.join(out, "staged")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    gen = Generator(workload, seed)
    folders = []
    rows, counts = gen.seed_folder()
    name = folder_name(0)
    size = write_folder(staging, name, rows)
    folders.append({"name": name, "rows": len(rows), "bytes": size, "changes": counts,
                    "state": gen.state.summary()})
    for t in range(1, ticks + 1):
        rows, counts = gen.change_folder(t)
        name = folder_name(t)
        size = write_folder(staging, name, rows)
        folders.append({"name": name, "rows": len(rows), "bytes": size, "changes": counts,
                        "state": gen.state.summary()})
    doc = {"workload": workload, "seed": seed, "entity": ENTITY, "model": model_json(),
           "folders": folders}
    with open(os.path.join(out, "expected.json"), "w") as fh:
        json.dump(doc, fh)
    return doc


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ticks", type=int, required=True, help="change folders after the seed")
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out, args.ticks)


if __name__ == "__main__":
    main()
