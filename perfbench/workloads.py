"""The benchmark's workloads: what one operation is and how it is checked.

An operation makes its calls into the engine's layers and marks an
``OpClock`` after each call, so the traced run can attribute its time.
The marks are taken in the untraced run too: they are a few clock reads,
and both runs then execute the same code.

* ``headline_mix``   entries of ``bench.HEADLINE_QUERIES`` across three
  schema families (the driver's traffic);
* ``lakehouse_write`` episodes of ``sources.snapshots`` commits, deletes,
  compaction, expiry and head/time-travel reads on a table the benchmark
  owns.

Query operations drain through the ``noop`` sink with the row count
observed in the same job, as ``plans.runner.run_query`` does.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
from dataclasses import dataclass, field

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected.json")

# A fixed subset of ``bench.HEADLINE_QUERIES`` from three schema families,
# so every pass switches the catalog between the ssb and tpcds view sets
# and every run times the same multiset of operations (the seed only
# changes their order). Each is its family's cheapest headline entry on 4
# cores; mv_incremental_refresh reads base tables and spends about half
# its time in eager builder jobs.
HEADLINE_SUBSET = (
    "mv_incremental_refresh",  # base tables
    "ssb_q1_1",                # ssb
    "tpcds_wl_321",            # tpcds
)


# Untimed passes before the timed region. Operation latency falls over the
# first passes of a session (JIT compilation, session-level caches) and
# levels off after about this many.
WARM_PASSES = 4
WARM_EPISODES = 2


class CheckFailed(Exception):
    """An operation's output differs from its expected value."""


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    op_ids: itertools.count = field(default_factory=itertools.count)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# Query workloads
# ---------------------------------------------------------------------------


class QueryWorkload:
    """Runs registry builders; each pass is the fixed list in seeded order."""

    def __init__(self, queries: tuple[str, ...], seed: int):
        self.queries = queries
        self.rng = random.Random(seed)
        self.expected = load_expected()
        missing = [q for q in queries if q not in self.expected]
        if missing:
            raise KeyError(f"no expected outputs for {missing}")

    def register(self, ctx: Ctx) -> None:
        """Registers every schema family the queries read, the catalog work
        a session does before its first query."""
        for fn in family_registrars():
            fn(ctx.spark, ctx.sf_dir)

    def warm_up(self, ctx: Ctx) -> tuple[int, int]:
        """``WARM_PASSES`` untimed passes over every query; returns
        (attempted, failed). The first collects each output and compares
        its row count and order-insensitive value hash
        (``scripts/canon.py``); the others take the timed operations' code
        path."""
        from lakehouse_variance_spark import registry
        from scripts.canon import canon_hash

        failed = 0
        for n in range(WARM_PASSES):
            for q in self.queries:
                try:
                    if n > 0:
                        self.run_op(ctx, q, _NullClock())
                        continue
                    pdf = registry.QUERIES[q](ctx.spark, ctx.sf_dir).toPandas()
                    want = self.expected[q]
                    if len(pdf) != want["rows"] or canon_hash(pdf) != want["hash"]:
                        raise CheckFailed(f"{q}: {len(pdf)} rows or value hash differ")
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    failed += 1
                    print(f"# warm-up failure {q}: {str(exc).splitlines()[0][:300]}",
                          flush=True)
        return WARM_PASSES * len(self.queries), failed

    def next_pass(self) -> list[tuple[str, str]]:
        """(label, operation) pairs of one pass, in seeded order."""
        order = list(self.queries)
        self.rng.shuffle(order)
        return [(q, q) for q in order]

    def run_op(self, ctx: Ctx, q: str, clock) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from lakehouse_variance_spark import registry

        df = registry.QUERIES[q](ctx.spark, ctx.sf_dir)
        clock.mark("builder", "builder")
        obs = Observation(f"pb_rows_{next(ctx.op_ids)}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        df._jdf.queryExecution().executedPlan()
        clock.mark("catalyst", "plan")
        df.write.format("noop").mode("overwrite").save()
        clock.mark("drain", "noop_drain")
        rows = int(obs.get["rows"])
        if rows != self.expected[q]["rows"]:
            raise CheckFailed(f"{q}: rows {rows} want {self.expected[q]['rows']}")
        return {"kind": "query", "rows": rows}


def family_registrars():
    """The catalog layer's registration entry points of the schema families
    ``headline_mix`` reads."""
    from lakehouse_variance_spark.plans.runner import register_sf_views
    from lakehouse_variance_spark.plans.ssb_schema import register_ssb_views
    from lakehouse_variance_spark.plans.tpcds_schema import register_tpcds_views

    return (register_sf_views, register_ssb_views, register_tpcds_views)


class _NullClock:
    def mark(self, layer: str, name: str) -> None:
        pass


# ---------------------------------------------------------------------------
# Lakehouse write workload
# ---------------------------------------------------------------------------

N_RESIDUES = 24  # lineitem splits into this many seeded batches (~25k rows)
KEEP_LAST = 2


@dataclass(frozen=True)
class LakeOp:
    kind: str           # append | delete | optimize | expire | read
    arg: object = None  # append: batch residue; delete: predicate;
    #                     read: version (None head, -1 head's parent)


class LakehouseWorkload:
    """Repeats one seeded episode on a fresh table until time is up.

    An episode appends seeded lineitem batches, deletes with a narrow
    (one batch) and a wide (a month of returns, every file) predicate,
    compacts, expires and reads the head and older versions in between.
    The seed sets the batch split, their order and the predicates; every
    episode of a run repeats the same plan, so each has the same expected
    outputs and the same write and space amplification."""

    def __init__(self, seed: int, sf_dir: str, work_dir: str):
        rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.mult = rng.choice([m for m in range(5, 1000, 2) if m % 3])
        self.shift = rng.randrange(N_RESIDUES)
        b = list(range(N_RESIDUES))
        rng.shuffle(b)
        cutoff = rng.randrange(1996, 2001)
        year, month = rng.randrange(1995, 2001), rng.randrange(1, 13)
        nxt_year, nxt_month = year + month // 12, month % 12 + 1

        def narrow(residue: int) -> str:
            return (f"{self._batch_expr()} = {residue} AND "
                    f"l_shipdate < TIMESTAMP '{cutoff}-01-01 00:00:00'")

        wide = (f"l_returnflag = 'R' AND "
                f"l_shipdate >= TIMESTAMP '{year}-{month:02d}-01 00:00:00' AND "
                f"l_shipdate < TIMESTAMP '{nxt_year}-{nxt_month:02d}-01 00:00:00'")

        def A(i: int) -> LakeOp:
            return LakeOp("append", b[i])

        def R(version: int | None = None) -> LakeOp:
            return LakeOp("read", version)

        self.plan = [
            A(0), A(1), R(), A(2), LakeOp("delete", narrow(b[1])), A(3), R(2),
            A(4), LakeOp("delete", wide), A(5), R(), LakeOp("optimize"),
            LakeOp("expire"), R(-1), A(6), R(),
        ]
        self.expected = self._expect(self.plan)
        self.episodes: list[Episode] = []
        self.n_tables = 0

    def _batch_expr(self) -> str:
        return f"pmod(l_orderkey * {self.mult} + {self.shift}, {N_RESIDUES})"

    # -- expected values, recomputed independently in DuckDB -------------

    def _state_sql(self, state: list[tuple[int, tuple[str, ...]]]) -> str:
        """DuckDB text for a table state: each appended batch minus the
        predicates of the deletes committed after it."""
        def keep(residue: int, preds: tuple[str, ...]) -> str:
            conds = [f"{self._batch_expr_duck()} = {residue}"]
            conds += [f"NOT coalesce(({self._to_duck(p)}), false)" for p in preds]
            return "(" + " AND ".join(conds) + ")"

        return (f"SELECT * FROM read_parquet('{self.sf_dir}/lineitem.parquet') "
                f"WHERE {' OR '.join(keep(r, p) for r, p in state)}")

    def _batch_expr_duck(self) -> str:
        return f"((l_orderkey * {self.mult} + {self.shift}) % {N_RESIDUES})"

    def _to_duck(self, pred: str) -> str:
        return pred.replace(self._batch_expr(), self._batch_expr_duck())

    def _expect(self, plan: list[LakeOp]) -> dict:
        """Per read: the version it reads and DuckDB's aggregates of that
        version's state; plus the head's state query. Versions follow the
        engine's numbering: each commit adds one, a delete that matches
        no row adds none."""
        import duckdb

        con = duckdb.connect()
        state: list[tuple[int, tuple[str, ...]]] = []
        versions: list[list[tuple[int, tuple[str, ...]]]] = []
        reads = []
        for op in plan:
            if op.kind == "append":
                state = state + [(op.arg, ())]
                versions.append(state)
            elif op.kind == "delete":
                hit = con.sql(f"SELECT count(*) FROM ({self._state_sql(state)}) "
                              f"WHERE {self._to_duck(op.arg)}").fetchone()[0]
                if hit:
                    state = [(r, p + (op.arg,)) for r, p in state]
                    versions.append(state)
            elif op.kind == "optimize":
                versions.append(state)
            elif op.kind == "read":
                idx = len(versions) - 1 if op.arg is None else (
                    op.arg - 1 if op.arg > 0 else len(versions) - 1 + op.arg)
                sql = self._state_sql(versions[idx])
                reads.append({"version": idx + 1,
                              "agg": list(con.sql(_agg_sql(f"({sql})")).fetchone())})
        con.close()
        return {"reads": reads, "head_sql": self._state_sql(versions[-1])}

    # -- running -----------------------------------------------------------

    def register(self, ctx: Ctx) -> None:
        """Snapshot tables are read by path: no schema family to register."""

    def new_table(self) -> str:
        self.n_tables += 1
        path = os.path.join(self.work_dir, "tables", f"t{self.n_tables}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path

    def warm_up(self, ctx: Ctx) -> tuple[int, int]:
        """``WARM_EPISODES`` untimed episodes, each on its own table and its
        head then compared row by row with DuckDB. Returns (attempted,
        failed)."""
        failed = 0
        for _ in range(WARM_EPISODES):
            ep = Episode(self.new_table(), self.expected)
            for op in self.plan:
                try:
                    self.run_op(ctx, (ep, op), _NullClock())
                except Exception as exc:  # noqa: BLE001 - counted, reported
                    failed += 1
                    print(f"# warm-up failure {op.kind}: "
                          f"{str(exc).splitlines()[0][:300]}", flush=True)
            failed += len(verify_head(ctx, ep))
            shutil.rmtree(ep.table, ignore_errors=True)
        return WARM_EPISODES * (len(self.plan) + 1), failed

    def next_pass(self) -> list[tuple[str, tuple]]:
        """One episode on a fresh table: the operations in plan order."""
        ep = Episode(self.new_table(), self.expected)
        self.episodes.append(ep)
        return [(f"{i:02d}_{op.kind}", (ep, op)) for i, op in enumerate(self.plan)]

    def run_op(self, ctx: Ctx, item, clock) -> dict:
        from pyspark.sql import functions as F

        from lakehouse_variance_spark.sources import snapshots as snap

        ep, op = item
        spark, table = ctx.spark, ep.table
        before = _files(table)
        if op.kind == "append":
            src = ctx.spark.read.parquet(os.path.join(self.sf_dir, "lineitem.parquet"))
            batch = src.filter(F.expr(f"{self._batch_expr()} = {op.arg}"))
            snap.write_snapshot(batch, table)
            clock.mark("snapshots", "write_snapshot")
        elif op.kind == "delete":
            head = snap.current_version(table)
            snap.delete_from_snapshot(spark, table, op.arg)
            clock.mark("snapshots", "delete_from_snapshot")
            ep.rewritten.append(
                len(set(snap._read_manifest(table, head)["files"])
                    - set(snap._read_manifest(table, snap.current_version(table))["files"])))
        elif op.kind == "optimize":
            snap.optimize_snapshot(spark, table)
            clock.mark("snapshots", "optimize_snapshot")
        elif op.kind == "expire":
            snap.expire_snapshots(table, keep_last=KEEP_LAST)
            clock.mark("snapshots", "expire_snapshots")
        else:
            want = ep.expected["reads"][ep.n_reads]
            ep.n_reads += 1
            df = snap.read_snapshot(spark, table, want["version"])
            clock.mark("snapshots", "read_snapshot")
            agg = df.agg(*_agg_cols())
            agg._jdf.queryExecution().executedPlan()
            clock.mark("catalyst", "plan")
            got = [int(v) if v is not None else None for v in agg.collect()[0]]
            clock.mark("drain", "collect")
            ep.reads.append(len(snap._read_manifest(table, want["version"])["files"]))
            if got != want["agg"]:
                raise CheckFailed(f"read v{want['version']}: {got} want {want['agg']}")
            return {"kind": "read", "rows": got[0]}
        new = _files(table) - before
        written = sum(os.path.getsize(p) for p in new)
        ep.written[op.kind] = ep.written.get(op.kind, 0) + written
        return {"kind": op.kind, "files": len(new), "bytes": written}


@dataclass
class Episode:
    table: str
    expected: dict
    n_reads: int = 0
    reads: list = field(default_factory=list)       # files per read
    rewritten: list = field(default_factory=list)   # files per delete
    written: dict = field(default_factory=dict)     # bytes per op kind

    def write_amp(self) -> float:
        appended = self.written.get("append", 0)
        return sum(self.written.values()) / appended if appended else 0.0

    def space_amp(self) -> float:
        from lakehouse_variance_spark.sources import snapshots as snap

        head = snap._read_manifest(self.table, snap.current_version(self.table))
        live = sum(os.path.getsize(f) for f in head["files"])
        on_disk = sum(os.path.getsize(p) for p in _files(self.table))
        return on_disk / live if live else 0.0


def _files(table: str) -> set[str]:
    data = os.path.join(table, "data")
    out = set()
    for root, _dirs, names in os.walk(data):
        out.update(os.path.join(root, n) for n in names if n.endswith(".parquet"))
    return out


def _agg_sql(source: str) -> str:
    return ("SELECT count(*), sum(l_orderkey), "
            "sum(CAST(round(l_extendedprice * 100) AS BIGINT)), "
            f"sum(l_partkey * 8 + l_linenumber) FROM {source}")


def _agg_cols():
    from pyspark.sql import functions as F

    return (
        F.count(F.lit(1)),
        F.sum("l_orderkey"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")),
        F.sum(F.col("l_partkey") * 8 + F.col("l_linenumber")),
    )


def verify_head(ctx: Ctx, ep: Episode) -> list[str]:
    """Full-row comparison of the episode's head with DuckDB's
    recomputation over the source parquet minus the deleted predicates."""
    import duckdb

    from lakehouse_variance_spark.sources import snapshots as snap

    cols = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate"]
    got = snap.read_snapshot(ctx.spark, ep.table).select(*cols).toPandas()
    with duckdb.connect() as con:
        want = con.sql(f"SELECT {', '.join(cols)} FROM ({ep.expected['head_sql']})").df()
    got = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(cols, kind="mergesort").reset_index(drop=True)
    got["l_shipdate"] = got["l_shipdate"].astype("datetime64[us]")
    want["l_shipdate"] = want["l_shipdate"].astype("datetime64[us]")
    if len(got) != len(want) or not got.equals(want):
        return [f"{ep.table}: head differs from DuckDB ({len(got)} vs {len(want)} rows)"]
    return []


def verify_versions(ctx: Ctx, ep: Episode) -> list[str]:
    """Every version whose files all survive expiry must be readable."""
    from lakehouse_variance_spark.sources import snapshots as snap

    errors = []
    for v in range(1, snap.current_version(ep.table) + 1):
        files = snap._read_manifest(ep.table, v)["files"]
        if not all(os.path.exists(f) for f in files):
            continue  # expired
        try:
            snap.read_snapshot(ctx.spark, ep.table, v).agg(*_agg_cols()).collect()
        except Exception as exc:  # noqa: BLE001 - reported as a failure
            errors.append(f"{ep.table} v{v}: {str(exc).splitlines()[0][:200]}")
    return errors


def make(name: str, seed: int, sf_dir: str, work_dir: str):
    if name == "headline_mix":
        from bench import HEADLINE_QUERIES

        unknown = [q for q in HEADLINE_SUBSET if q not in HEADLINE_QUERIES]
        if unknown:
            raise KeyError(f"not headline queries: {unknown}")
        return QueryWorkload(HEADLINE_SUBSET, seed)
    if name == "lakehouse_write":
        return LakehouseWorkload(seed, sf_dir, work_dir)
    raise KeyError(f"unknown workload {name!r}")
