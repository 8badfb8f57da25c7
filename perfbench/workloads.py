"""The benchmark's workloads: each is a list of operations run as one
pass by a single closed-loop client (the next operation starts when the
previous one returns), plus the output checks made outside the timed
region.

``reads``  — analyst queries (DataFrame and SQL-string) and curation
             operators, one output each forced through the noop sink.
``writes`` — the Customer-360 refresh (full pipeline build, then keyed
             MERGE change batches) and a stateful streaming query.
"""

from __future__ import annotations

import datetime as dt
import functools
import math
import random
import tempfile
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

import pyarrow.parquet as pq

# Analyst mix: a scan-aggregate over the line items and a KPI dashboard
# through the SQL-string path. Neither enters a Python worker.
BI_QUERIES = ["q01_pricing_summary", "q36_kpi_dashboard"]
# Curation mix: the pair-loop near-dup search, and the top-k pruning
# behind brute-force k-NN, which crosses into Python workers (mapInPandas).
CURATION_QUERIES = ["q31_simhash_pairs", "q34_knn_bruteforce"]
# Session windows over a file stream, with RocksDB state; the value names
# the operation's time in the run description.
STREAM_QUERIES = {"q53_streaming_sessions": "stream_sessions_s"}
# MERGE rounds per Customer-360 pass, each touching 1% of the keys.
MERGE_ROUNDS = 3
SEGMENTS = {"champion", "loyal", "potential", "at_risk", "hibernating"}


def digest(df) -> str:
    """Order-insensitive digest of a DataFrame: row count and the exact
    sum of one 64-bit hash per row over the columns in name order."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        cols.append(F.to_json(c) if isinstance(f.dataType, MapType) else c)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h'] or 0}"


@dataclass
class Op:
    """One operation of a pass. ``run`` returns a DataFrame to force
    through the noop sink, or None when the operation forces itself.
    ``check`` runs after the operation, outside its timing, and returns
    a list of failure messages."""

    name: str
    run: Callable[[], Any]
    check: Callable[[Any], list[str]] | None = None
    query: bool = False  # a catalog builder: traced as queries.build/exec


@dataclass
class Context:
    spark: Any
    sf_dir: str
    expected: dict[str, str]
    pass_dir: Path | None = None


def _query_op(ctx: Context, name: str) -> Op:
    """A catalog query, timed through its production override where one
    exists, as ``bench.py`` does."""
    from databricks_delta_lake_project_spark.queries.catalog import (
        PRODUCTION_OVERRIDES,
        QUERIES,
    )

    fn = PRODUCTION_OVERRIDES.get(name, QUERIES[name][0])

    def check(df) -> list[str]:
        want = ctx.expected.get(name)
        got = digest(df)
        return [] if got == want else [f"{name}: digest {got} != expected {want}"]

    return Op(name, lambda: fn(ctx.spark, ctx.sf_dir), check, query=True)


def reads_pass(ctx: Context, rng: random.Random, stage: str) -> list[Op]:
    names = BI_QUERIES + CURATION_QUERIES
    rng.shuffle(names)
    ops = [_query_op(ctx, n) for n in names]
    if stage != CHECK:
        # outputs are checked once per run, in the warm-up pass
        for op in ops:
            op.check = None
    return ops


# -- writes -------------------------------------------------------------------


def _batch_rows(schema, rng: random.Random, keys: list[int], k: int) -> list[tuple]:
    """Synthetic change rows for ``keys``, typed after the gold schema."""
    from pyspark.sql import types as T

    rows = []
    for j, key in enumerate(keys):
        row = []
        for f in schema.fields:
            t = f.dataType
            if f.name == "customer_id":
                row.append(key)
            elif isinstance(t, (T.LongType, T.IntegerType)):
                row.append(rng.randrange(0, 1000))
            elif isinstance(t, (T.DoubleType, T.FloatType)):
                row.append(rng.randrange(0, 50_000_000) / 100.0)
            elif isinstance(t, T.DateType):
                row.append(dt.date(1995, 1, 1) + dt.timedelta(days=rng.randrange(2400)))
            elif isinstance(t, T.StringType):
                row.append(f"{f.name}-{k}-{j}")
            else:
                row.append(None)
        rows.append(tuple(row))
    return rows


@functools.cache
def _orders_total(sf_dir: str) -> float:
    prices = pq.read_table(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    cents = sum(round(p * 100) for p in prices.column(0).to_pylist())
    return cents / 100


def _c360_ops(ctx: Context, rng: random.Random, root: Path) -> list[Op]:
    """Full pipeline build, then MERGE_ROUNDS keyed change batches."""
    from databricks_delta_lake_project_spark.pipelines.customer360 import (
        run_customer360,
    )
    from databricks_delta_lake_project_spark.tables import LakeTable

    spark, sf_dir = ctx.spark, ctx.sf_dir
    gold = str(root / "gold_customer_360")
    state: dict[str, Any] = {}

    def build():
        run_customer360(spark, sf_dir, str(root))

    def check_build(_) -> list[str]:
        errors = []
        table = LakeTable.for_path(spark, gold)
        g = table.to_df()
        state["base_version"], state["schema"] = table.version(), g.schema
        state["keys"] = set(
            pq.read_table(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
            .column(0).to_pylist()
        )
        state["changed"] = {}
        n = g.count()
        if n != len(state["keys"]):
            errors.append(f"c360: {n} gold rows != {len(state['keys'])} customers")
        segs = {
            r[0]
            for r in LakeTable.for_path(spark, str(root / "gold_rfm_segments"))
            .to_df().select("segment").distinct().collect()
        }
        if not segs or not segs <= SEGMENTS:
            errors.append(f"c360: invalid segment set {sorted(segs)}")
        cum = (
            LakeTable.for_path(spark, str(root / "gold_revenue_daily"))
            .to_df().agg({"cum_revenue": "max"}).collect()[0][0]
        )
        want = _orders_total(sf_dir)
        if cum is None or not math.isclose(cum, want, rel_tol=1e-12):
            errors.append(f"c360: cum_revenue ends at {cum}, orders total {want}")
        return errors

    def merge_op(k: int) -> Op:
        batch: dict[str, Any] = {}

        def run():
            keys = sorted(state["keys"])
            n = max(1, len(keys) // 100)
            n_new = n // 5
            upd = rng.sample(keys, n - n_new)
            new = list(range(keys[-1] + 1, keys[-1] + 1 + n_new))
            batch["rows"] = _batch_rows(state["schema"], rng, upd + new, k)
            batch["updates"], batch["inserts"] = len(upd), len(new)
            src = spark.createDataFrame(batch["rows"], state["schema"])
            batch["metrics"] = (
                LakeTable.for_path(spark, gold)
                .merge(src, "t.customer_id = s.customer_id")
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            state["keys"].update(new)
            state["changed"].update((r[0], r) for r in batch["rows"])

        def check(_) -> list[str]:
            m = batch["metrics"]
            got = (
                m.get("numTargetRowsUpdated"),
                m.get("numTargetRowsInserted"),
                m.get("numTargetRowsDeleted"),
            )
            want = (batch["updates"], batch["inserts"], 0)
            return [] if got == want else [f"c360 merge {k}: metrics {got} != {want}"]

        return Op("c360_merge", run, check)

    def check_merged(_) -> list[str]:
        """The gold table equals the built one with every batch applied."""
        schema, changed = state["schema"], state["changed"]
        base = LakeTable.for_path(spark, gold).to_df(version=state["base_version"])
        keys = spark.createDataFrame([(k,) for k in changed], "customer_id long")
        want = base.join(keys, "customer_id", "left_anti").select(schema.names).unionByName(
            spark.createDataFrame(list(changed.values()), schema)
        )
        got = digest(LakeTable.for_path(spark, gold).to_df())
        if got != digest(want):
            return [f"c360: merged gold table {got} differs from the applied batches {digest(want)}"]
        return []

    ops = [Op("c360_build", build, check_build)]
    ops += [merge_op(k) for k in range(MERGE_ROUNDS)]
    last = ops[-1].check
    ops[-1].check = lambda out: last(out) + check_merged(out)
    return ops


def writes_pass(ctx: Context, rng: random.Random, stage: str) -> list[Op]:
    """One pass from a fresh root under ``ctx.pass_dir``, outputs checked.
    The warm-up pass runs the build and a single MERGE round."""
    root = Path(tempfile.mkdtemp(prefix="c360_", dir=ctx.pass_dir))
    c360 = _c360_ops(ctx, rng, root)
    if stage == CHECK:
        c360 = c360[:2]
    blocks = [c360] + [[_query_op(ctx, n)] for n in STREAM_QUERIES]
    rng.shuffle(blocks)
    return [op for block in blocks for op in block]


# Pass stages: the warm-up pass (CHECK) runs every operation once before
# timing starts and checks query outputs; TIMED passes are measured.
CHECK, TIMED = "check", "timed"

# workload -> (pass builder, nominal seconds of one warm pass on 4 idle
# cores). A run makes --seconds / nominal passes (at least one), so every
# run of a workload does the same work whatever the machine's speed that
# minute. A reads pass is short and still speeding up after the warm-up,
# so a run makes five of them.
WORKLOADS: dict[str, tuple[Callable[[Context, random.Random, str], list[Op]], float]] = {
    "reads": (reads_pass, 2.4),
    "writes": (writes_pass, 12.0),
}


def stored_bytes(directory: Path) -> int:
    return sum(p.stat().st_size for p in directory.rglob("*") if p.is_file())


def log_stats(directory: Path) -> tuple[int, int]:
    """(bytes in commit-log directories, checkpoints written) under
    ``directory`` — both the native ``_log`` and Delta ``_delta_log``."""
    size = checkpoints = 0
    for log_dir in list(directory.rglob("_log")) + list(directory.rglob("_delta_log")):
        for p in log_dir.rglob("*"):
            if p.is_file():
                size += p.stat().st_size
                if "checkpoint" in p.name and not p.name.startswith("_last"):
                    checkpoints += 1
    return size, checkpoints
