"""Scale-up validation: replicate the driver's sf0.1 tables N× with
shifted keys and measure how the catalog's headline plans scale.

The replica models realistic growth: primary/foreign keys shift per
copy (key cardinality grows with data), `documents.source` gets a
per-copy suffix (corpus grows by adding sources, so dedup BLOCK SIZE
stays constant while block count grows — the regime blocking is
designed for; within-block quadratic growth is what q32's banding
exists to re-block), and fixed dimensions (region, nation, supplier)
stay fixed.

Usage:
    python tools/scale_check.py [N]        # default N=10 (~sf1)

Prints one JSON line per scale with per-query wall seconds; a plan
that scales linearly in data should show ~N× on scan-bound queries
(local[32] is CPU-bound, so wall-clock tracks total work) and the
ratio column makes super-linear blowups (a join that stopped
broadcasting, a window that collapsed to one partition) obvious.

Replica lives under .scale/ (gitignored) — build is idempotent and
skipped if present.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from databricks_delta_lake_project_spark.queries.catalog import (
    PRODUCTION_OVERRIDES,
    QUERIES,
    load,
)
from databricks_delta_lake_project_spark.session import get_spark

BASE = "/root/testdata/sf0.1"

# key columns shifted per copy (cardinality grows with the data);
# documents.source is suffixed instead (block count grows, block size
# does not)
SHIFT_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SUFFIX_COLS = {"documents": ["source"]}
FIXED = ["region", "nation", "supplier"]

# representative plan shapes; q30/q43 (dimension-blocked pairs) ride
# the suffixed sources, q32 is the banded re-blocking scale path
HEADLINE = [
    "q01_pricing_summary",      # scan + multi-agg
    "q02_revenue_daily",        # agg + running windows
    "q03_customer_360",         # star join
    "q05_sessionization",       # lag/cumsum windows
    "q17_order_priority_exists",  # semi join
    "q18_shipping_priority",    # 3-way join top-k
    "q23_asof_join",            # union-sort as-of
    "q27_language_id",          # text map stage
    "q31_simhash_pairs",        # block-collect pairs
    "q32_minhash_lsh",          # banded LSH + verify
    "q34_knn_bruteforce",       # broadcast kNN
    "q42_multimodal_features",  # Arrow-batched binary decode
    "q43_dedup_clusters",       # pairs -> connected components
    "q43_star",                 # same pairs, large/small-star CC
    "q44_incremental_dedup",    # index + probe (production hash)
    "q49_video_features",       # Y4M decode
    "q50_partitioned_dml",      # partitioned Delta DML (metadata
                                # DELETE + copy-on-write UPDATE/MERGE)
]


def _q43_star(spark, sf_dir):
    """q43's pair graph through the O(log d) large-star/small-star
    variant — the adversarial-chain scale path."""
    from databricks_delta_lake_project_spark.operators.graph import (
        dedup_clusters,
    )
    from databricks_delta_lake_project_spark.queries.text import (
        q30_ngram_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = q30_ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    return dedup_clusters(pairs, docs, algorithm="star").select(
        "doc_id", "cluster_id", "is_canonical"
    )


EXTRA = {"q43_star": _q43_star}


def build_replica(spark, n: int, out: Path) -> None:
    if (out / "_SUCCESS_REPLICA").exists():
        return
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    for name in FIXED:
        shutil.copy(f"{BASE}/{name}.parquet", out / f"{name}.parquet")
    for name, keys in SHIFT_KEYS.items():
        df = load(spark, BASE, name)
        shifts = {k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys}
        copies = []
        for i in range(n):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(int(shifts[k]) * i))
            for col in SUFFIX_COLS.get(name, ()):
                c = c.withColumn(
                    col, F.concat(F.col(col), F.lit(f"_{i}" if i else ""))
                )
            copies.append(c)
        u = copies[0]
        for c in copies[1:]:
            u = u.unionByName(c)
        # one file per copy keeps the scan split count proportional
        u.repartition(n).write.mode("overwrite").parquet(
            str(out / f"{name}.parquet")
        )
    (out / "_SUCCESS_REPLICA").touch()


def run(spark, sf_dir: str, names: list[str]) -> dict[str, float]:
    timings = {}
    for name in names:
        # production-mode plans are the ones whose scale behavior
        # matters (bench times them too); oracle-scheme twins share
        # the identical plan shape
        fn = EXTRA.get(name) or PRODUCTION_OVERRIDES.get(name) or QUERIES[name][0]
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
    return timings


def _timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 3)


def dml_tail(spark, n: int) -> None:
    """Measure the r13 DML-tail verbs' cost envelopes at 1x vs n×
    (judge-assigned r14 #5). Predicted shapes:

    * replaceWhere whole-partition reload — FLAT vs table size: the
      replaced partition's files drop by log action alone (stats
      prove full match), and the incoming bytes are fixed.
    * REORG APPLY (PURGE) — LINEAR in DV'd files, FLAT in table
      size: only files carrying deletion vectors rewrite.
    * COPY INTO no-op replay — BOUNDED with ledger snapshots vs
      LINEAR in commit count without.
    """
    import tempfile

    from databricks_delta_lake_project_spark.queries.sqlpack import (
        run_statement,
    )
    from databricks_delta_lake_project_spark.session import session_key
    from databricks_delta_lake_project_spark.tables import LakeTable, sqldml

    out: dict[str, dict] = {}

    # ---- replaceWhere: table grows n×, reloaded partition fixed ----
    def rw_probe(rows: int) -> float:
        work = tempfile.mkdtemp(prefix="sc_rw_")
        base = spark.range(rows).select(
            F.concat(F.lit("d"), (F.col("id") % 20).cast("string")).alias(
                "day"
            ),
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        t = LakeTable.create(
            spark,
            work + "/t",
            df=base.repartition(20, "day"),
            partition_by=["day"],
        )
        # FIXED-SIZE incoming reload of one partition (same frame at
        # both scales): the op under test, not the table build
        incoming = spark.range(50_000).select(
            F.lit("d3").alias("day"),
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        # warm the codegen/write paths on a DIFFERENT partition so the
        # measured reload is pure steady-state
        t.replace_where(
            incoming.withColumn("day", F.lit("d7")), "day = 'd7'"
        )
        sec = _timed(lambda: t.replace_where(incoming, "day = 'd3'"))
        shutil.rmtree(work, ignore_errors=True)
        return sec

    out["replace_where_partition_reload"] = {
        "1x": rw_probe(1_000_000),
        f"{n}x": rw_probe(1_000_000 * n),
    }

    # ---- REORG: DV'd-file count k vs table size ----
    def reorg_probe(files: int, dv_files: int) -> float:
        work = tempfile.mkdtemp(prefix="sc_reorg_")
        rows_per = 100_000
        t = LakeTable.create(
            spark,
            work + "/t",
            df=spark.range(files * rows_per)
            .select(
                F.col("id"),
                (F.col("id") % 97).alias("v"),
                (F.col("id") / F.lit(float(rows_per)))
                .cast("long")
                .alias("bucket"),
            )
            .repartition("bucket"),
            properties={"delta.enableDeletionVectors": "true"},
        )
        # DV a bounded row set in exactly dv_files buckets — O(rows)
        # sidecars, no data file rewritten yet
        t.delete(f"bucket < {dv_files} AND v = 7", strategy="dv")
        sec = _timed(t.reorg_purge)
        shutil.rmtree(work, ignore_errors=True)
        return sec

    out["reorg_purge"] = {
        "k_files_1x_table": reorg_probe(20, 4),
        f"k_files_{n}x_table": reorg_probe(20 * n, 4),
        f"{n}k_files_{n}x_table": reorg_probe(20 * n, 4 * n),
    }

    # ---- COPY INTO: no-op replay, snapshots on vs off ----
    def copy_probe(commits: int, snapshots: bool) -> dict:
        work = tempfile.mkdtemp(prefix="sc_copy_")
        landing = Path(work) / "land"
        landing.mkdir()
        props = (
            {}
            if snapshots
            else {"engine.copyInto.snapshotInterval": "1000000000"}
        )
        t = LakeTable.create(
            spark,
            work + "/t",
            schema=spark.range(1).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ).schema,
            properties=props,
        )
        name = f"sc.copy.t{commits}{int(snapshots)}"
        sqldml.register_table(spark, name, t)
        stmt = f"COPY INTO {name} FROM '{landing}' FILEFORMAT = PARQUET"
        try:
            for i in range(commits):
                spark.range(i * 10, i * 10 + 10).select(
                    F.col("id"), (F.col("id") * 2).alias("v")
                ).coalesce(1).write.parquet(str(landing / f"b{i}"))
                run_statement(spark, stmt)
            # the measured quantities: a steady-state no-op poll's
            # wall plus the EXACT commit-JSON reads its replay does
            # (the quantity the ledger bounds)
            wall = _timed(lambda: run_statement(spark, stmt))
            _, _, replayed = sqldml._copy_replay(t)
            return {"sec": wall, "commits_replayed": replayed}
        finally:
            sqldml._REGISTRY.pop((session_key(spark), name), None)
            shutil.rmtree(work, ignore_errors=True)

    out["copy_into_noop_replay"] = {
        "30_commits_snapshots": copy_probe(30, True),
        "120_commits_snapshots": copy_probe(120, True),
        "30_commits_no_snapshots": copy_probe(30, False),
        "120_commits_no_snapshots": copy_probe(120, False),
    }
    print(json.dumps({"dml_tail": out}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--dml-tail":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        spark = get_spark(app_name="scale_check_dml")
        spark.sparkContext.setLogLevel("ERROR")
        dml_tail(spark, n)
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if len(sys.argv) > 2:  # comma-separated subset, e.g. q01,q17
        want = sys.argv[2].split(",")
        global HEADLINE
        HEADLINE = [q for q in HEADLINE if any(q.startswith(w) for w in want)]
    spark = get_spark(app_name="scale_check")
    spark.sparkContext.setLogLevel("ERROR")
    out = REPO / ".scale" / f"x{n}"
    build_replica(spark, n, out)

    # warm codegen/worker paths so both scales measure execution
    run(spark, BASE, HEADLINE)
    base = run(spark, BASE, HEADLINE)
    big = run(spark, str(out), HEADLINE)
    ratios = {q: round(big[q] / base[q], 1) for q in base}
    print(json.dumps({"scale": 1, "queries": base}))
    print(json.dumps({"scale": n, "queries": big}))
    print(json.dumps({"ratio": ratios}))


if __name__ == "__main__":
    main()
