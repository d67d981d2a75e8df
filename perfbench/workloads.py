"""The benchmark's run: one release through its life, closed loop, single
client, in one Spark session.

The op families, in order:

* **migrate** — a full 7-step ``MigrationJob`` into a fresh workspace
  with patch set A, then ``Pipeline.reset_to_step(4)`` and a re-run after
  patch set B lands (the reference's ``reset-to-step``);
* **reads** — one of each read kind over the migrated, class-partitioned
  store: a Datalog entity query, a two-entity Datalog join, a pull,
  ``as_of`` + ``per_class_counts`` and a QA recount;
* **txn** — on a ``TxTable`` seeded from the store with a bloom index on
  ``e``: a card-one ``merge_into`` patch, three point reads, a snapshot
  scan, and a checkpoint every ``CHECKPOINT_EVERY`` commits;
* **stream** — a datom-log file lands, ``import_available_now`` resumes
  from its checkpoint and a stateful ``streaming_class_counts`` query
  (update mode) drains with ``availableNow``.

Untraced runs (the end-to-end metrics) measure migrate and reads; traced
runs measure all four families.  Every op's output is checked against a
DuckDB oracle.
"""

from __future__ import annotations

import glob
import os
import random
import resource
import shutil
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .trace import Tracer

RELEASE = "WS1"
TXN_ATTRS = ["Order/Status", "Order/Priority", "Order/Customer", "Order/Total_price"]
CUSTOMER_PULL = ["Customer/Name", "Customer/Segment", "Customer/Address.City"]
ORDER_PULL = ["Order/Status", "Order/Priority", "Order/Customer"]
READ_KINDS = ("query", "join", "pull", "as_of", "qa_recount")
PULL_PATTERNS = {"Customer": CUSTOMER_PULL, "Order": ORDER_PULL}
# (family, share of --seconds, minimum whole units, traced runs only)
FAMILIES = (
    ("migrate", 0.70, 1, False),
    ("reads", 0.30, 1, False),
    ("txn", 0.15, 2, True),
    ("stream", 0.10, 2, True),
)
CHECKPOINT_EVERY = 2
TXN_PATCH_ROWS = 40


@dataclass(frozen=True)
class Workload:
    why: str
    scale: gen.Scale


# Object counts follow TPC-H at the named scale factor, in the shape of
# the repository's test data (10 orders per customer, ~4 line items per
# order).  The two sizes, five times apart, split fixed per-job cost from
# per-row cost; sf0.01 would not fit the run-time budget.
WORKLOADS = {
    "sf0.001": Workload(
        why="release with TPC-H sf0.001 counts (7.7k objects): per-job and "
        "per-step fixed cost dominates",
        scale=gen.Scale(customers=150, orders=1500),
    ),
    "sf0.005": Workload(
        why="release with TPC-H sf0.005 counts (38k objects): the .ace parse "
        "and datom write grow with the rows",
        scale=gen.Scale(customers=750, orders=7500),
    ),
}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, when that is p90 or above (n >= 100); below that
    the rule names no tail, so the maximum is reported as p100."""
    s = sorted(samples)
    n = len(s)
    if n < 100:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool]] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(ok for _, ok in self.checks)

    def check(self, name: str, ok: bool) -> None:
        self.checks.append((name, bool(ok)))
        if not ok:
            self.errors.append(f"check failed: {name}")


def _log(msg: str) -> None:
    print(f"[{time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class ReleaseRun:
    """State of one benchmark run.  ``samples`` maps an op name to its
    wall times; ``layer`` holds per-layer values gathered while tracing."""

    def __init__(self, spark, work: str, seed: int, workload: Workload, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.wl = workload
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.out = Outcome()
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.seed_s = 0.0
        self._cycle = 0
        self._stream_round = 0
        self._txn_iter = 0
        self._expected_digest: dict[tuple, str] = {}

    # -- op wrapper -------------------------------------------------------

    def _op(self, name: str, fn, *args):
        """Run one closed-loop op inside a span; a raised error counts as
        a failed op and the run goes on."""
        self.out.attempted += 1
        with self.tracer.span(name) as t:
            try:
                result = fn(*args)
            except Exception as exc:  # noqa: BLE001 - one op failing must not end the run
                self.out.failed += 1
                self.out.errors.append(f"{name}: {type(exc).__name__}: {exc}")
                result = None
        self.samples[name].append(t["s"])
        return result

    # -- set-up -----------------------------------------------------------

    def setup(self, release_dir: str) -> None:
        """Generate the release under ``release_dir`` and precompute the
        oracles' answers."""
        self.rel = gen.generate_release(release_dir, self.seed, self.wl.scale)
        self.oracle_a = oracle.ReleaseOracle(self.rel, ("a",))
        self.oracle_ab = oracle.ReleaseOracle(self.rel, ("a", "b"))
        self.qa_csv_a = self.oracle_a.qa_csv()
        self.qa_csv_ab = self.oracle_ab.qa_csv()
        self.order_state_a = self.oracle_a.order_patch_state()
        self.order_state_ab = self.oracle_ab.order_patch_state()
        _log("release generated, oracles ready")

    def close(self) -> None:
        self.oracle_a.close()
        self.oracle_ab.close()

    def seed_stores(self) -> None:
        """Seed the transaction table from the first migrated store and
        lay out the stream directories (set-up work between families)."""
        with self.tracer.span("seed") as t:
            self._seed_txn()
            self._stream_setup()
        self.seed_s = t["s"]

    # -- migrate ----------------------------------------------------------

    def migrate_cycle(self) -> None:
        from db_migration_spark.migrate import MigrationJob

        n = self._cycle
        self._cycle += 1
        ws = os.path.join(self.work, f"ws{n}")
        patches = os.path.join(ws, "patches")
        os.makedirs(patches, exist_ok=True)
        shutil.copy(glob.glob(os.path.join(self.rel.patches_a, "*"))[0], patches)
        job = MigrationJob(
            self.spark, ws, self.rel.dumps, self.rel.models, self.rel.catalog,
            RELEASE, patches_path=patches, homol_classes=gen.HOMOL_CLASSES,
        )
        pipe = job.pipeline()
        step_t0: dict[int, float] = {}

        def listener(phase: str, step_n: int, step) -> None:
            key = step.description.replace("-", "_")
            if phase == "start":
                self.tracer.begin(f"step.{key}")
                step_t0[step_n] = time.perf_counter()
                return
            self.tracer.end()
            self.layer[f"pipeline.step.{key}_s"].append(time.perf_counter() - step_t0[step_n])

        pipe.add_listener(listener)
        qa_dir = os.path.join(ws, RELEASE, "qa_report")
        store = os.path.join(ws, RELEASE, "datoms_patched")
        # the QA counts cannot tell the patch sets apart (they only
        # rewrite existing orders), so the orders' rewritten attributes
        # are compared too
        if self._op("migrate", pipe.run) is not None:
            self.out.check("migrate QA csv (patch set A)", self._qa_text(qa_dir) == self.qa_csv_a)
            self.out.check(
                "migrate order Status/Priority (patch set A)",
                oracle.store_order_state(store) == self.order_state_a,
            )
        shutil.copy(glob.glob(os.path.join(self.rel.patches_b, "*"))[0], patches)
        pipe.reset_to_step(4)
        if self._op("rerun", pipe.run) is not None:
            self.out.check("rerun QA csv (patch sets A+B)", self._qa_text(qa_dir) == self.qa_csv_ab)
            self.out.check(
                "rerun order Status/Priority (patch sets A+B)",
                oracle.store_order_state(store) == self.order_state_ab,
            )
        if n == 0:
            self.store_path = store
        else:
            shutil.rmtree(ws, ignore_errors=True)

    @staticmethod
    def _qa_text(qa_dir: str) -> str:
        text = []
        for part in sorted(glob.glob(os.path.join(qa_dir, "part-*.csv"))):
            with open(part) as fh:
                text.append(fh.read())
        return "".join(text)

    # -- reads ------------------------------------------------------------

    def _read_params(self, kind: str):
        rng = self.rng
        if kind == "query":
            return (rng.choice(gen.SEGMENTS), f"CITY_{rng.randrange(gen.N_CITIES)}")
        if kind == "join":
            return (rng.choice(gen.PRIORITIES), rng.choice(gen.SEGMENTS))
        # parameters vary the values a read touches, not how much it
        # reads, so a seed does not change an op's cost
        if kind == "as_of":
            return (f"2024-01-{rng.randint(13, 16):02d} {rng.randrange(24):02d}:00:00",)
        return ()

    def _expected(self, kind: str, params: tuple) -> str:
        key = (kind,) + params
        if key not in self._expected_digest:
            o = self.oracle_ab
            if kind == "query":
                d = o.entity_query(*params)
            elif kind == "join":
                d = o.join_query(*params)
            elif kind == "pull":
                d = {cls: o.pull(cls, pattern) for cls, pattern in PULL_PATTERNS.items()}
            elif kind == "as_of":
                d = o.as_of_counts(*params)
            else:
                d = o.qa_recount()
            self._expected_digest[key] = d
        return self._expected_digest[key]

    def read_op(self, kind: str) -> None:
        params = self._read_params(kind)
        rows = self._op(f"read.{kind}", getattr(self, f"_read_{kind}"), *params)
        if rows is None:
            return
        if kind == "pull":
            got = {cls: oracle.digest(tuple(r) for r in rs) for cls, rs in rows.items()}
        else:
            got = oracle.digest(tuple(r) for r in rows)
        self.out.check(f"read.{kind}{params}", got == self._expected(kind, params))

    def _store(self):
        return self.spark.read.parquet(self.store_path)

    def _timed_build(self, fn, *args):
        t0 = time.perf_counter()
        df = fn(*args)
        self.layer["datalog.build_s"].append(time.perf_counter() - t0)
        return df

    def _read_query(self, segment: str, city: str):
        from db_migration_spark import datalog

        df = self._timed_build(
            datalog.query, self._store(), ["?name"],
            [["?e", "Customer/Segment", segment],
             ["?e", "Customer/Address.City", city],
             ["?e", "Customer/Name", "?name"]],
        )
        return df.collect()

    def _read_join(self, priority: str, segment: str):
        from db_migration_spark import datalog

        df = self._timed_build(
            datalog.query, self._store(), ["?name", "?status"],
            [["?o", "Order/Priority", priority],
             ["?o", "Order/Customer", "?cid"],
             ["?o", "Order/Status", "?status"],
             ["?c", "Customer/Id", "?cid"],
             ["?c", "Customer/Segment", segment],
             ["?c", "Customer/Name", "?name"]],
        )
        return df.collect()

    def _read_pull(self):
        """Pull every Customer and every Order document."""
        from pyspark.sql import functions as F

        from db_migration_spark import datalog

        out = {}
        for cls, pattern in PULL_PATTERNS.items():
            store = self._store().filter(F.col("class") == cls)
            df = self._timed_build(datalog.pull, store, pattern)
            out[cls] = df.select("pulled").collect()
        return out

    def _read_as_of(self, t: str):
        from pyspark.sql import functions as F

        from db_migration_spark.operators.eav import as_of
        from db_migration_spark.operators.relational import per_class_counts

        view = as_of(self._store(), F.lit(t).cast("timestamp"))
        return per_class_counts(view, "class", entity_col="e").collect()

    def _read_qa_recount(self):
        from db_migration_spark.operators.relational import per_class_counts, qa_count_report
        from db_migration_spark.sources.catalog_files import read_id_catalog

        actual = per_class_counts(self._store(), "class", entity_col="e")
        expected = read_id_catalog(self.spark, self.rel.catalog)
        return qa_count_report(actual, expected).collect()

    # -- txn --------------------------------------------------------------

    def _seed_txn(self) -> None:
        from pyspark.sql import functions as F

        from db_migration_spark.plans.txlog import TxTable

        self.txn = TxTable(os.path.join(self.work, "txn"))
        base = (
            self._store()
            .filter((F.col("class") == "Order") & F.col("a").isin(TXN_ATTRS))
            .select("e", "a", "v", "tx")
        )
        self.txn.commit_append(base)
        self.txn.add_bloom_index(self.spark, "e")
        self.txn_base_files = sorted(
            glob.glob(os.path.join(self.txn.data_dir, "**", "*.parquet"), recursive=True)
        )
        rows = self.txn.read(self.spark).select("e", "a", "v").collect()
        self.txn_expected = {(r["e"], r["a"]): r["v"] for r in rows}
        self.txn_keys = sorted(self.txn_expected)
        self.txn_entities = sorted({e for e, _ in self.txn_keys})
        self.txn_patch_files: list[str] = []
        self.txn_recent: list[int] = []
        self.txn_version = self.txn.latest_version()
        self.layer_txn_retries = 0

    def _txn_patch(self, i: int) -> pa.Table:
        keys = self.rng.sample(self.txn_keys, min(TXN_PATCH_ROWS, len(self.txn_keys)))
        tx0 = 1_767_225_600_000_000 + i * 1_000_000  # 2026-01-01 + i s
        return pa.table(
            {
                "e": pa.array([k[0] for k in keys], pa.int64()),
                "a": pa.array([k[1] for k in keys], pa.string()),
                "v": pa.array([f"T{i}_{j}" for j in range(len(keys))], pa.string()),
                "tx": pa.array([tx0] * len(keys), pa.timestamp("us")),
            }
        )

    def txn_iteration(self) -> None:
        from pyspark.sql import functions as F

        i = self._txn_iter
        self._txn_iter += 1
        patch = self._txn_patch(i)
        path = os.path.join(self.work, f"txn_patch_{i:05d}.parquet")
        pq.write_table(patch, path)
        data_before = _du(self.txn.data_dir) if self.tracer.enabled else 0
        pdf = patch.to_pandas()
        source = self.spark.createDataFrame(pdf, schema="e long, a string, v string, tx timestamp")
        version = self._op("txn.commit", self.txn.merge_into, self.spark, source, ["e", "a"])
        if version is None:
            return
        self.txn_patch_files.append(path)
        self.layer_txn_retries += max(0, version - self.txn_version - 1)
        self.txn_version = version
        for e, a, v in zip(pdf["e"], pdf["a"], pdf["v"]):
            self.txn_expected[(int(e), a)] = v
        self.txn_recent = sorted({int(e) for e in pdf["e"]})
        if self.tracer.enabled:
            self.layer["txlog.write_amp"].append(
                (_du(self.txn.data_dir) - data_before) / os.path.getsize(path)
            )
        for _ in range(3):
            if self.rng.random() < 0.5:
                e = self.rng.choice(self.txn_recent)
            else:
                e = self.rng.choice(self.txn_entities)
            if self.tracer.enabled:
                kept, total = self.txn.prune_groups_point(self.spark, "e", e)
                self.layer["txlog.groups_read_frac"].append(len(kept) / total)
            rows = self._op(
                "txn.point",
                lambda e=e: self.txn.read_point(self.spark, "e", e).select("e", "a", "v").collect(),
            )
            if rows is not None:
                want = sorted((a, v) for (ee, a), v in self.txn_expected.items() if ee == e)
                self.out.check(f"txn point read e={e}", sorted((r["a"], r["v"]) for r in rows) == want)
        n = self._op(
            "txn.scan",
            lambda: self.txn.read(self.spark).agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"],
        )
        if n is not None:
            self.out.check("txn scan row count", n == len(self.txn_expected))
        if self._txn_iter % CHECKPOINT_EVERY == 0:
            self._op("txn.checkpoint", self.txn.checkpoint)

    def txn_final_check(self) -> None:
        rows = self.txn.read(self.spark).select("e", "a", "v").collect()
        want = oracle.txn_final(self.txn_base_files, self.txn_patch_files)
        self.out.check("txn final read = last-write-wins oracle", oracle.digest(tuple(r) for r in rows) == want)
        py = oracle.digest((e, a, v) for (e, a), v in self.txn_expected.items())
        self.out.check("txn oracle agrees with the client's view", py == want)

    # -- stream -----------------------------------------------------------

    def _stream_setup(self) -> None:
        from pyspark.sql.types import StringType, StructField, StructType

        from db_migration_spark.streaming.import_stream import DATOM_SCHEMA

        d = os.path.join(self.work, "stream")
        self.stream_dirs = {
            k: os.path.join(d, k)
            for k in ("staging", "log", "store", "ckpt_import", "ckpt_counts")
        }
        for k in ("staging", "log"):
            os.makedirs(self.stream_dirs[k], exist_ok=True)
        self.stream_schema = StructType(
            list(DATOM_SCHEMA.fields) + [StructField("class", StringType())]
        )
        self.stream_files: list[str] = []
        self.stream_counts: dict[str, int] = {}

    def _stream_source(self):
        return self.spark.readStream.schema(self.stream_schema).parquet(self.stream_dirs["log"])

    def stream_round(self) -> None:
        r = self._stream_round
        self._stream_round += 1
        name = f"round-{r:05d}.parquet"
        staged = os.path.join(self.stream_dirs["staging"], name)
        gen.stream_round(staged, self.seed, r, self.wl.scale)
        landed = os.path.join(self.stream_dirs["log"], name)
        os.replace(staged, landed)
        progress = self._op("stream.round", self._drain)
        if progress is None:
            return
        self.stream_files.append(landed)
        if self.tracer.enabled:
            wall = self.samples["stream.round"][-1]
            trig = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000
            self.layer["stream.trigger_s"].append(trig)
            self.layer["stream.add_batch_s"].append(
                sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000
            )
            state = [op for p in progress for op in p.get("stateOperators", [])]
            self.layer["stream.state_commit_s"].append(sum(op.get("commitTimeMs", 0) for op in state) / 1000)
            self.layer["stream.state_rows"].append(max((op.get("numRowsTotal", 0) for op in state), default=0))
            self.layer["stream.outside_trigger_s"].append(wall - trig)

    def _drain(self) -> list[dict]:
        from db_migration_spark.streaming.import_stream import (
            import_available_now,
            streaming_class_counts,
        )

        imp = import_available_now(
            self._stream_source(), self.stream_dirs["store"], self.stream_dirs["ckpt_import"]
        )
        imp.awaitTermination()
        counts = self.stream_counts

        def sink(batch, _batch_id):
            for row in batch.collect():
                counts[row["class"]] = row["n_datoms"]

        cq = (
            streaming_class_counts(self._stream_source())
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", self.stream_dirs["ckpt_counts"])
            .trigger(availableNow=True)
            .start()
        )
        cq.awaitTermination()
        for q in (imp, cq):
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        return [p for q in (imp, cq) for p in q.recentProgress]

    def stream_final_check(self) -> None:
        total, per_class = oracle.stream_counts(self.stream_files)
        n = self.spark.read.parquet(self.stream_dirs["store"]).count()
        self.out.check("stream store row count", n == total)
        self.out.check("stream per-class counts", self.stream_counts == per_class)

    # -- measured window --------------------------------------------------

    def _read_mix(self) -> None:
        for kind in READ_KINDS:
            self.read_op(kind)

    def measure(self, seconds: float) -> float:
        """Run the families in whole units (a migrate cycle, one of each
        read kind, a txn iteration, a stream round): each family's
        minimum, then more units while they fit in its share of
        ``seconds``.  Returns the window's wall time without the store
        seeding.  The first migration runs in a fresh session, as a
        release migration does, and its store serves every later family."""
        unit = {
            "migrate": self.migrate_cycle,
            "reads": self._read_mix,
            "txn": self.txn_iteration,
            "stream": self.stream_round,
        }
        t_start = time.perf_counter()
        with self.tracer.span("measure"):
            for family, share, minimum, traced_only in FAMILIES:
                if traced_only and not self.tracer.enabled:
                    continue
                if family == "txn":
                    self.seed_stores()
                with self.tracer.span(family):
                    t0 = time.perf_counter()
                    done, last = 0, 0.0
                    while done < minimum or (
                        time.perf_counter() - t0 + last <= share * seconds
                    ):
                        t_unit = time.perf_counter()
                        unit[family]()
                        last = time.perf_counter() - t_unit
                        done += 1
                _log(f"{family} done")
        wall = time.perf_counter() - t_start - self.seed_s
        if self.tracer.enabled:
            self.txn_final_check()
            self.stream_final_check()
        self.close()
        return wall

    # -- per-layer probes (traced runs only) --------------------------------

    def layer_probes(self) -> None:
        """Isolated timings of the parse and cast layers that the
        migration runs fused inside one Spark job."""
        from pyspark.sql import functions as F

        from db_migration_spark.operators.eav import typed_cast
        from db_migration_spark.sources.ace import (
            ace_records_to_datoms,
            parse_ace_dump,
            parse_ace_rejects,
            read_ace_blocks,
        )
        from db_migration_spark.sources.catalog_files import read_models_schema

        sp, dumps = self.spark, self.rel.dumps
        with self.tracer.span("probe.ace.parse") as t:
            parse_ace_dump(sp, dumps).write.format("noop").mode("overwrite").save()
        self.layer["ace.parse_s"].append(t["s"])
        with self.tracer.span("probe.ace.counts"):
            self.layer["ace.blocks"].append(read_ace_blocks(sp, dumps).count())
            self.layer["ace.records"].append(parse_ace_dump(sp, dumps).count())
            self.layer["ace.rejects"].append(parse_ace_rejects(sp, dumps).count())
        vtypes = {
            f"{r['class']}/{r['attribute']}": r["value_type"]
            for r in read_models_schema(sp, self.rel.models).collect()
            if r["value_type"] in ("long", "double", "date", "timestamp")
        }
        datoms = self._store().select("e", "a", "v", "tx", "op", "class")
        with self.tracer.span("probe.eav.typed_cast") as t:
            typed_cast(datoms, vtypes).write.format("noop").mode("overwrite").save()
        self.layer["eav.typed_cast_s"].append(t["s"])
        typed = typed_cast(datoms, vtypes)
        # typed_cast fills a typed column only for its type's attributes,
        # so a null there with a non-null ``v`` is a rejected cast
        typed_col = {"long": "v_long", "double": "v_double", "date": "v_date", "timestamp": "v_ts"}
        attempts = F.col("a").isin(list(vtypes))
        nulled = F.lit(False)
        for vtype, col in typed_col.items():
            attrs = [a for a, t_ in vtypes.items() if t_ == vtype]
            if attrs:
                nulled = nulled | (F.col("a").isin(attrs) & F.col(col).isNull() & F.col("v").isNotNull())
        row = typed.agg(
            F.sum(attempts.cast("long")).alias("n"),
            F.sum(nulled.cast("long")).alias("bad"),
        ).collect()[0]
        self.layer["eav.cast_null_frac"].append((row["bad"] or 0) / max(1, row["n"] or 0))


def session_layer(spark, start_s: float) -> dict[str, float]:
    """JVM GC time and peak resident memory of the driver JVM plus this
    Python process."""
    jvm = spark.sparkContext._jvm
    gc_ms = sum(
        b.getCollectionTime()
        for b in jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    pid = jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {
        "session.start_s": start_s,
        "session.gc_s": gc_ms / 1000.0,
        "session.peak_rss_mb": (jvm_kb + py_kb) / 1024.0,
    }

