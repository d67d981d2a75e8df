"""Deterministic release generator for the migration benchmark.

One seed gives one release: ``.ace`` dumps (gzipped, several part files),
an annotated models file, an id catalog, two patch sets and, on demand,
tx-ordered datom-log files for streaming-import rounds.  Every file is a
pure function of ``(seed, scale)`` and is written byte-for-byte the same
on every call (gzip headers carry no mtime or name; parquet is written by
one pyarrow call with fixed options).

Beside the boundary-format files the generator writes the logical
content as parquet under ``truth/`` — the rows the ``.ace`` text encodes —
so the DuckDB oracles recompute expected results from the same facts
without going through the engine's parser.

Shape (TPC-H flavoured, as the migration's ``queries_e2e`` fixtures):
``Customer`` ← ``Order`` ← ``Lineitem`` objects with card-one typed
attributes, one card-many attribute (``Lineitem/Flag``), a small share of
malformed numeric values (typed casts null them) and ``-O`` timestamps
on every line, so every datom carries a transaction time.
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
FLAGS = ["DISCOUNTED", "EXPEDITED", "FRAGILE", "RETURNED", "TAXED"]
N_CITIES = 25
DUMP_PARTS = 4  # gzip is unsplittable: one dump part per local core
BAD_VALUE_FRAC = 0.002  # malformed numerics, nulled by the typed casts
PATCH_FRAC = 0.01  # share of orders each patch set rewrites
HOMOL_CLASSES = ["Customer"]
# the catalog lists a class the dump lacks, so the QA diff path is live
MISSING_CLASS = ("Plasmid", 42)

MODELS_TEXT = """// annotated models for the benchmark release
?Customer
  Id UNIQUE Text
  Name UNIQUE Text
  Address.City UNIQUE Text
  Acctbal UNIQUE Float
  Segment UNIQUE Text
?Order
  Customer UNIQUE Text
  Status UNIQUE Text
  Total_price UNIQUE Float
  Priority UNIQUE Text
  Order_date UNIQUE DateType
?Lineitem
  Order UNIQUE Text
  Quantity UNIQUE Int
  Extended_price UNIQUE Float
  Ship_mode UNIQUE Text
  Flag Text
"""

TRUTH_SCHEMA = pa.schema(
    [
        ("class", pa.string()),
        ("obj_id", pa.string()),
        ("attr", pa.string()),
        ("value", pa.string()),
        ("ts", pa.string()),
    ]
)

STREAM_SCHEMA = pa.schema(
    [
        ("e", pa.int64()),
        ("a", pa.string()),
        ("v", pa.string()),
        ("tx", pa.timestamp("us")),
        ("op", pa.bool_()),
        ("class", pa.string()),
    ]
)


@dataclass(frozen=True)
class Scale:
    """Object counts of one release.  Lineitems per order vary 1..7."""

    customers: int = 1200
    orders: int = 6000
    stream_round_datoms: int = 20000


@dataclass(frozen=True)
class Release:
    """Paths of one generated release (all under ``root``)."""

    root: str
    dumps: str
    models: str
    catalog: str
    patches_a: str
    patches_b: str
    truth: str

    @property
    def truth_base(self) -> str:
        return os.path.join(self.truth, "base.parquet")

    def truth_patches(self, which: str) -> str:
        return os.path.join(self.truth, f"patches_{which}.parquet")


def _ts(day: int, sec: int, month: int = 1) -> str:
    h, rem = divmod(sec % 86400, 3600)
    m, s = divmod(rem, 60)
    return f"2024-{month:02d}-{day:02d}_{h:02d}:{m:02d}:{s:02d}"


def _quote(s: str) -> str:
    if '"' in s or "\\" in s:
        s = s.replace("\\", "\\\\").replace('"', '\\"')
    return '"' + s + '"'


def _objects(rng: random.Random, scale: Scale):
    """Yield (class, obj_id, [(attr, value, ts)]) in dump order."""
    rand = rng.random

    def below(n: int) -> int:
        # one ``random()`` per draw: the generator's hot path
        return int(rand() * n)

    def num(text: str) -> str:
        return "n/a" if rand() < BAD_VALUE_FRAC else text

    for c in range(1, scale.customers + 1):
        ts = _ts(1 + c % 28, below(86400))
        yield "Customer", f"C{c}", [
            ("Id", f"C{c}", ts),
            ("Name", f"Customer#{c:09d}", ts),
            ("Address.City", f"CITY_{below(N_CITIES)}", ts),
            ("Acctbal", num(f"{(below(1099998) - 99999) / 100:.2f}"), ts),
            ("Segment", SEGMENTS[below(len(SEGMENTS))], ts),
        ]
    for o in range(1, scale.orders + 1):
        ts = _ts(1 + o % 28, below(86400))
        n_items = 1 + below(7)
        cust = 1 + below(scale.customers)
        yield "Order", f"O{o}", [
            ("Customer", f"C{cust}", ts),
            ("Status", STATUSES[below(len(STATUSES))], ts),
            ("Total_price", num(f"{(100000 + below(49900000)) / 100:.2f}"), ts),
            ("Priority", PRIORITIES[below(len(PRIORITIES))], ts),
            ("Order_date", f"199{2 + below(7)}-{1 + below(12):02d}-{1 + below(28):02d}", ts),
        ]
        for k in range(1, n_items + 1):
            its = _ts(1 + (o + k) % 28, below(86400))
            attrs = [
                ("Order", f"O{o}", its),
                ("Quantity", num(str(1 + below(50))), its),
                ("Extended_price", num(f"{(90000 + below(10410000)) / 100:.2f}"), its),
                ("Ship_mode", SHIP_MODES[below(len(SHIP_MODES))], its),
            ]
            for flag in sorted(rng.sample(FLAGS, below(3))):
                attrs.append(("Flag", flag, its))
            yield "Lineitem", f"L{o}_{k}", attrs


def _block(cls: str, obj_id: str, attrs) -> str:
    lines = [f"{cls} : {_quote(obj_id)}"]
    for attr, value, ts in attrs:
        lines.append(f"{attr.replace('.', ' ')} {_quote(value)} -O {_quote(ts)}")
    return "\n".join(lines) + "\n\n"


def _write_gz(path: str, text: str) -> None:
    # mtime=0 and an empty embedded name keep the bytes seed-determined;
    # the fastest level keeps generation a small part of set-up
    with open(path, "wb") as raw:
        with gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0, compresslevel=1) as gz:
            gz.write(text.encode())


def _write_truth(path: str, objs) -> None:
    """The (class, obj_id, attr, value, ts) rows of ``objs`` as parquet."""
    cols: list[list[str]] = [[] for _ in TRUTH_SCHEMA]
    cls_c, oid_c, attr_c, value_c, ts_c = cols
    for cls, oid, attrs in objs:
        for attr, value, ts in attrs:
            cls_c.append(cls)
            oid_c.append(oid)
            attr_c.append(attr)
            value_c.append(value)
            ts_c.append(ts)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRUTH_SCHEMA)],
        schema=TRUTH_SCHEMA,
    )
    pq.write_table(table, path, compression="zstd")


def _patch_set(rng: random.Random, scale: Scale, month: int, tag: str):
    """Card-one updates (Status, Priority) for ``PATCH_FRAC`` of orders,
    stamped later than every base datom."""
    n = max(1, int(scale.orders * PATCH_FRAC))
    picked = sorted(rng.sample(range(1, scale.orders + 1), n))
    objs = []
    for o in picked:
        ts = _ts(1 + o % 28, rng.randrange(86400), month=month)
        objs.append(
            (
                "Order",
                f"O{o}",
                [
                    ("Status", f"{tag}{rng.choice(STATUSES)}", ts),
                    ("Priority", rng.choice(PRIORITIES), ts),
                ],
            )
        )
    return objs


def generate_release(root: str, seed: int, scale: Scale = Scale()) -> Release:
    """Write one release under ``root`` (created; existing files with the
    same names are overwritten) and return its paths."""
    rel = Release(
        root=root,
        dumps=os.path.join(root, "dumps"),
        models=os.path.join(root, "models", "models.wrm"),
        catalog=os.path.join(root, "catalog", "all_classes_report.txt"),
        patches_a=os.path.join(root, "patches_a"),
        patches_b=os.path.join(root, "patches_b"),
        truth=os.path.join(root, "truth"),
    )
    for d in (rel.dumps, rel.patches_a, rel.patches_b, rel.truth,
              os.path.dirname(rel.models), os.path.dirname(rel.catalog)):
        os.makedirs(d, exist_ok=True)

    rng = random.Random(seed)
    objs = list(_objects(rng, scale))
    per_part = -(-len(objs) // DUMP_PARTS)
    for p in range(DUMP_PARTS):
        chunk = objs[p * per_part:(p + 1) * per_part]
        _write_gz(
            os.path.join(rel.dumps, f"part-{p:02d}.ace.gz"),
            "".join(_block(*o) for o in chunk),
        )
    _write_truth(rel.truth_base, objs)

    counts: dict[str, int] = {}
    for cls, _oid, _attrs in objs:
        counts[cls] = counts.get(cls, 0) + 1
    with open(rel.catalog, "w") as fh:
        for cls, n in sorted(counts.items()) + [MISSING_CLASS]:
            fh.write(f"{cls} {n}\n")
    with open(rel.models, "w") as fh:
        fh.write(MODELS_TEXT)

    for which, month, path in (("a", 3, rel.patches_a), ("b", 4, rel.patches_b)):
        patch = _patch_set(rng, scale, month, which.upper())
        _write_gz(
            os.path.join(path, f"patch_{which}.ace.gz"),
            "".join(_block(*o) for o in patch),
        )
        _write_truth(rel.truth_patches(which), patch)
    return rel


def stream_round(path: str, seed: int, round_no: int, scale: Scale = Scale()) -> None:
    """Write the tx-ordered datom-log file of streaming round ``round_no``
    to ``path``.  Entities come from a pool shared by all rounds (customers,
    then orders, then up to six line items per order), so per-class entity
    sets overlap across rounds; transaction times rise monotonically across
    and within rounds."""
    rng = random.Random(seed * 1_000_003 + round_no)
    n = scale.stream_round_datoms
    pool = scale.customers + 6 * scale.orders
    classes = ("Customer", "Order", "Lineitem")
    es, as_, vs, txs, clss = [], [], [], [], []
    base_us = 1_735_689_600_000_000 + round_no * 86_400_000_000  # 2025-01-01
    for i in range(n):
        ent = rng.randrange(pool)
        cls = classes[0 if ent < scale.customers else 1 if ent < scale.customers + scale.orders else 2]
        es.append(10_000_000 + ent)
        as_.append(f"{cls}/Attr_{rng.randrange(4)}")
        vs.append(f"v{rng.randrange(1000)}")
        txs.append(base_us + i * 1000)
        clss.append(cls)
    table = pa.Table.from_arrays(
        [
            pa.array(es, pa.int64()),
            pa.array(as_, pa.string()),
            pa.array(vs, pa.string()),
            pa.array(txs, pa.timestamp("us")),
            pa.array([True] * n, pa.bool_()),
            pa.array(clss, pa.string()),
        ],
        schema=STREAM_SCHEMA,
    )
    pq.write_table(table, path, compression="zstd")
