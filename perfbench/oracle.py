"""DuckDB oracles: expected results recomputed from the generator's
inputs, never from the engine's outputs (the one exception is the
transaction workload's base snapshot, which the benchmark seeds from the
migrated store and hands to both sides as an input).

Results are compared as canonical digests: every row becomes a tuple of
``str`` values, rows are sorted, and the digest is SHA-256 over the
joined text — so Spark's and DuckDB's row order and Python types do not
matter, only values.
"""

from __future__ import annotations

import hashlib

import duckdb

from .gen import Release

CARD_MANY = {("Lineitem", "Flag")}


def digest(rows) -> str:
    canon = sorted("\x1f".join(str(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def qa_csv_text(rows: list[tuple]) -> str:
    """The QA report exactly as the engine's quoted-CSV sink writes it."""
    header = ("class_name", "actual_count", "expected_count", "diff", "matches")
    lines = [header] + [
        (c, str(a), str(e), str(a - e), "true" if a == e else "false")
        for c, a, e in rows
    ]
    return "".join(",".join(f'"{v}"' for v in ln) + "\n" for ln in lines)


class ReleaseOracle:
    """The migrated store's expected content (base ∪ patch sets, resolved
    like the engine's patch merge: last write wins per entity attribute,
    per value for card-many attributes), and the read mix over it."""

    def __init__(self, rel: Release, patch_sets: tuple[str, ...] = ("a", "b")):
        self.rel = rel
        self.con = duckdb.connect()
        files = [rel.truth_base] + [rel.truth_patches(p) for p in patch_sets]
        parts = [
            f"SELECT *, {i} AS src FROM read_parquet('{f}')"
            for i, f in enumerate(files)
        ]
        many = " OR ".join(
            f"(class = '{c}' AND attr = '{a}')" for c, a in sorted(CARD_MANY)
        )
        self.con.execute(
            "CREATE TEMP VIEW facts AS SELECT class, obj_id, attr, value, "
            "strptime(replace(ts, '_', ' '), '%Y-%m-%d %H:%M:%S') AS tx, src "
            "FROM (" + " UNION ALL ".join(parts) + ")"
        )
        self.con.execute(
            "CREATE TEMP TABLE store AS SELECT class, obj_id, attr, value, tx "
            "FROM (SELECT *, row_number() OVER (PARTITION BY class, obj_id, "
            f"attr, CASE WHEN {many} THEN value END "
            "ORDER BY tx DESC, src DESC) AS rn FROM facts) WHERE rn = 1"
        )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, params=()) -> list[tuple]:
        return self.con.execute(sql, list(params)).fetchall()

    def qa_rows(self) -> list[tuple]:
        """(class, actual, expected) in the report's order: descending
        actual count, then class name."""
        catalog = {}
        with open(self.rel.catalog) as fh:
            for line in fh:
                if line.strip():
                    cls, n = line.split()
                    catalog[cls] = int(n)
        actual = dict(
            self._rows(
                "SELECT class, count(DISTINCT obj_id) FROM store GROUP BY class"
            )
        )
        rows = [
            (c, actual.get(c, 0), catalog.get(c, 0))
            for c in set(actual) | set(catalog)
        ]
        return sorted(rows, key=lambda r: (-r[1], r[0]))

    def qa_csv(self) -> str:
        return qa_csv_text(self.qa_rows())

    def order_patch_state(self) -> str:
        """Digest of every order's (Status values, Priority values): the
        two attributes the patch sets rewrite."""
        return digest(
            (str(sorted(s or [])), str(sorted(p or [])))
            for s, p in self._rows(
                "SELECT list(value) FILTER (WHERE attr = 'Status'), "
                "list(value) FILTER (WHERE attr = 'Priority') "
                "FROM store WHERE class = 'Order' GROUP BY obj_id"
            )
        )

    # -- read mix --------------------------------------------------------

    def entity_query(self, segment: str, city: str) -> str:
        return digest(
            self._rows(
                "SELECT DISTINCT n.value FROM store s "
                "JOIN store c ON c.class = s.class AND c.obj_id = s.obj_id "
                "JOIN store n ON n.class = s.class AND n.obj_id = s.obj_id "
                "WHERE s.class = 'Customer' AND s.attr = 'Segment' AND s.value = ? "
                "AND c.attr = 'Address.City' AND c.value = ? AND n.attr = 'Name'",
                (segment, city),
            )
        )

    def join_query(self, priority: str, segment: str) -> str:
        return digest(
            self._rows(
                "WITH o AS (SELECT obj_id, "
                "max(value) FILTER (WHERE attr = 'Priority') AS pri, "
                "max(value) FILTER (WHERE attr = 'Customer') AS cid, "
                "max(value) FILTER (WHERE attr = 'Status') AS status "
                "FROM store WHERE class = 'Order' GROUP BY obj_id), "
                "c AS (SELECT obj_id, "
                "max(value) FILTER (WHERE attr = 'Id') AS id, "
                "max(value) FILTER (WHERE attr = 'Segment') AS seg, "
                "max(value) FILTER (WHERE attr = 'Name') AS name "
                "FROM store WHERE class = 'Customer' GROUP BY obj_id) "
                "SELECT DISTINCT c.name, o.status FROM o JOIN c ON o.cid = c.id "
                "WHERE o.pri = ? AND c.seg = ?",
                (priority, segment),
            )
        )

    def pull(self, cls: str, attrs: list[str]) -> str:
        """Canonical pull documents: keys in pattern order, values as
        sorted string arrays (empty when absent)."""
        rows = self._rows(
            "SELECT obj_id, attr, list_sort(list(value)) FROM store "
            "WHERE class = ? AND list_contains(?, attr) GROUP BY obj_id, attr",
            (cls, [a.split("/", 1)[1] for a in attrs]),
        )
        docs: dict[str, dict[str, list]] = {}
        for oid, attr, vals in rows:
            docs.setdefault(oid, {})[attr] = vals
        out = []
        for vals_by_attr in docs.values():
            frags = []
            for full in attrs:
                vals = vals_by_attr.get(full.split("/", 1)[1], [])
                arr = '["' + '","'.join(vals) + '"]' if vals else "[]"
                frags.append(f'"{full}":{arr}')
            out.append(("{" + ",".join(frags) + "}",))
        return digest(out)

    def as_of_counts(self, t: str) -> str:
        return digest(
            self._rows(
                "SELECT class, count(DISTINCT obj_id) FROM store "
                "WHERE tx <= CAST(? AS TIMESTAMP) GROUP BY class",
                (t,),
            )
        )

    def qa_recount(self) -> str:
        return digest(
            (c, a, e, a - e, a == e) for c, a, e in self.qa_rows()
        )


def store_order_state(store_path: str) -> str:
    """:meth:`ReleaseOracle.order_patch_state` over a migrated store
    (``class``-partitioned parquet datoms), read with DuckDB."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT list(v) FILTER (WHERE a = 'Order/Status'), "
            "list(v) FILTER (WHERE a = 'Order/Priority') "
            f"FROM read_parquet('{store_path}/**/*.parquet', hive_partitioning = true) "
            "WHERE class = 'Order' GROUP BY e"
        ).fetchall()
    finally:
        con.close()
    return digest((str(sorted(s or [])), str(sorted(p or []))) for s, p in rows)


def txn_final(base_files: list[str], patch_files: list[str]) -> str:
    """Last write wins per (e, a) over the base snapshot and the patches
    in commit order."""
    con = duckdb.connect()
    try:
        parts = [
            f"SELECT e, a, v, 0 AS seq FROM read_parquet({base_files!r})"
        ] + [
            f"SELECT e, a, v, {i + 1} AS seq FROM read_parquet('{f}')"
            for i, f in enumerate(patch_files)
        ]
        rows = con.execute(
            "SELECT e, a, v FROM (SELECT *, row_number() OVER "
            "(PARTITION BY e, a ORDER BY seq DESC) AS rn FROM ("
            + " UNION ALL ".join(parts)
            + ")) WHERE rn = 1"
        ).fetchall()
        return digest(rows)
    finally:
        con.close()


def stream_counts(files: list[str]) -> tuple[int, dict[str, int]]:
    """Total rows and per-class row counts over the landed round files."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT class, count(*) FROM read_parquet({files!r}) GROUP BY class"
        ).fetchall()
    finally:
        con.close()
    per_class = {c: int(n) for c, n in rows}
    return sum(per_class.values()), per_class
