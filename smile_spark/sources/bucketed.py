"""Bucketed parquet sink/source — the Spark-native CSR.

The reference's CSR layout exists so neighbor lookups touch one page
run (/root/reference/src/regtests/loadgraph_regtest.cpp:24-31).  The
distributed equivalent of "adjacency is physically co-located by
source node" is a table bucketed (and sorted) by ``src``: every join
or aggregation keyed on ``src`` then reads pre-partitioned data and
plans with ZERO exchange on the bucketed side.  At 100 TB that is the
difference between re-shuffling the edge set per query and never
shuffling it at all — bucketing is paid once at write time.

Bucketed tables must live in the session catalog (bucket metadata is
table metadata, not file metadata), hence ``saveAsTable`` rather than
path writes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 16,
    sort: bool = True,
    sort_cols: list[str] | str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by
    ``bucket_cols`` as a catalog table, replacing any prior version.
    ``sort_cols`` widens the in-bucket sort beyond the bucket key
    (e.g. adjacency bucketed by src, sorted by (src, dst))."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *cols)
    )
    if sort:
        if sort_cols is None:
            scols = cols
        elif isinstance(sort_cols, str):
            scols = [sort_cols]
        else:
            scols = list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table_name)


def append_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 16,
    sort: bool = True,
    sort_cols: list[str] | str | None = None,
) -> None:
    """APPEND ``df`` into an existing bucketed catalog table — the
    roll-forward primitive: new rows land in their hash bucket as new
    files (Spark bucketed appends add per-bucket files; reads stay
    bucket-aware, so join/agg exchange elimination survives the
    append).  The bucket spec must match the table's or Spark refuses
    — callers pass the same spec the original ``write_bucketed`` used.
    ``saveAsTable`` append resolves columns BY NAME, so the frame may
    order columns freely as long as names and types match."""
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = (
        df.write.mode("append").format("parquet").bucketBy(n_buckets, *cols)
    )
    if sort:
        if sort_cols is None:
            scols = cols
        elif isinstance(sort_cols, str):
            scols = [sort_cols]
        else:
            scols = list(sort_cols)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Read a bucketed catalog table (bucket metadata intact, so joins
    and aggregations on the bucket key skip their exchange)."""
    return spark.table(table_name)


# ---------------------------------------------------------------------------
# Co-located join as a query surface
# ---------------------------------------------------------------------------

# one bucketed write per (application, sf_dir) — the write is the
# one-time physical investment; every subsequent query on the bucket
# key reads pre-partitioned data (the continuous-aggregate contract
# hypertable_daily also follows).  Table names embed the sf_dir (see
# bucket_table_name): names are catalog-global, so a name shared
# across fixture dirs would let one dir's READY entry silently serve
# another dir's data within the same application.
_BUCKETED_READY: set[tuple[str, str]] = set()
BUCKETED_N = 16


def bucket_table_name(base: str, sf_dir: str) -> str:
    """Catalog-safe bucketed-table name scoped to one fixture dir."""
    import re

    suffix = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir).strip("_").lower()
    return f"{base}_{suffix}"


def drop_bucketed_table(spark: SparkSession, tbl: str) -> None:
    """Drop a bucketed table AND its warehouse directory: a managed-
    table location left by a PREVIOUS application (the in-memory
    catalog forgot it, the warehouse dir didn't) blocks creation with
    LOCATION_ALREADY_EXISTS."""
    import os
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = os.path.join(
        spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:"),
        tbl,
    )
    shutil.rmtree(loc, ignore_errors=True)


# ---------------------------------------------------------------------------
# Index-adoption sidecars (VERDICT r12 next-round #5)
# ---------------------------------------------------------------------------

# A bucketed-index BUILD is a corpus-linear job; the tables it writes
# are warehouse-global per corpus snapshot.  A sidecar JSON next to
# the tables records the snapshot fingerprint (row count + build
# parameters): a session whose per-process READY memo is empty can
# ADOPT the existing tables when (a) the sidecar matches what it
# would build and (b) the catalog still knows the tables — instead of
# unconditionally dropping and rewriting them.  That turns "once per
# session" into the true "once per corpus snapshot" nightly-index
# semantics.  On the in-memory catalog (local test sessions) a fresh
# APPLICATION never sees the old catalog entries, so adoption only
# fires within an application or on a metastore-backed cluster — the
# production case.


def _warehouse_dir(spark: SparkSession) -> str:
    import os

    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")


def sidecar_path(spark: SparkSession, name: str) -> str:
    import os

    return os.path.join(_warehouse_dir(spark), f"{name}.sidecar.json")


def write_sidecar(spark: SparkSession, name: str, payload: dict) -> str:
    """Persist an index fingerprint next to its warehouse tables.
    Written AFTER the tables: a crash between table writes and the
    sidecar leaves no sidecar, so the next session rebuilds (never
    adopts a half-written index)."""
    import json
    import os

    path = sidecar_path(spark, name)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, sort_keys=True)
    return path


def read_sidecar(spark: SparkSession, name: str) -> dict | None:
    import json
    import os

    path = sidecar_path(spark, name)
    if not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def remove_sidecar_file(path: str) -> None:
    import os

    try:
        os.remove(path)
    except OSError:
        pass


def sidecar_adoptable(
    spark: SparkSession,
    name: str,
    expected: dict,
    tables: "list[str] | tuple[str, ...]",
) -> bool:
    """True iff the persisted sidecar matches ``expected`` exactly AND
    every index table is still known to the catalog (a matching
    sidecar over dropped tables must rebuild, not adopt)."""
    if read_sidecar(spark, name) != expected:
        return False
    return all(spark.catalog.tableExists(t) for t in tables)


# ---------------------------------------------------------------------------
# The persisted-artifact lifecycle
# ---------------------------------------------------------------------------

# Every persisted index and label state (setsim, MinHash, SemDeDup,
# the image/audio/video band indexes, PQ, the label rungs) goes
# through the functions below; a family supplies only its table names,
# its sidecar payload (every build parameter plus covered-row counts)
# and its writers.  The contract, and why each rule holds:
#
# * ADOPT only when the sidecar equals the payload this build would
#   write AND every table is still in the catalog.  The payload
#   carries every parameter and row count, so a parameter or snapshot
#   change can never adopt; a matching sidecar over dropped tables
#   rebuilds.
# * The sidecar is written LAST, after every table write, so a crash
#   anywhere before it leaves no sidecar and the next session
#   rebuilds instead of adopting half-written tables.
# * The sidecar is REMOVED before any in-place mutation (a fold
#   append, a compaction).  Otherwise a crash after the append but
#   before the rolled sidecar would leave the BASE sidecar adoptable
#   over already-folded tables, and the next session would fold again
#   (silent row duplication).  With the removal, every crash inside a
#   mutation lands in the full-rebuild arm.
# * A mutation that FAILS in-process drops the tables: they are
#   unadoptable once the sidecar is gone, and dropping them leaves no
#   half-appended rows behind.
# * Sidecars are tracked whether BUILT or ADOPTED, so clear(family)
#   removes them and forces a true cold rebuild even in a process that
#   only ever adopted a prior application's state (bench pricing).
#
# The memo is per (family, application, sidecar name); the sidecar
# name already scopes sf_dir, the token-hash mode and the modality.
# One application owns the warehouse at a time (single writer).
# Crash-injection tests patch write_sidecar, remove_sidecar_file,
# sidecar_adoptable, drop_bucketed_table and the bucketed writers on
# this module; they are looked up here at call time.
_ARTIFACT_READY: set[tuple[str, str, str]] = set()
_ARTIFACT_SIDECARS: dict[str, set[str]] = {}


def _memo_key(spark: SparkSession, family: str, name: str):
    return (family, spark.sparkContext.applicationId, name)


def _adopt(
    spark: SparkSession,
    family: str,
    name: str,
    tables: list[str],
    payload: dict,
) -> bool:
    if not sidecar_adoptable(spark, name, payload, tables):
        return False
    path = sidecar_path(spark, name)
    _ARTIFACT_SIDECARS.setdefault(family, set()).add(path)
    _ARTIFACT_READY.add(_memo_key(spark, family, name))
    return True


def rewrite(
    spark: SparkSession,
    family: str,
    name: str,
    tables: list[str],
    payload: dict,
    mutate: Callable[[], None],
    memo: bool = True,
) -> None:
    """The unsealed step: forget the memo and remove the sidecar, run
    ``mutate`` (a build, a fold append, a compaction), then write
    ``payload`` as the sidecar.  A failing ``mutate`` drops ``tables``
    and re-raises.  ``memo`` marks the sealed state final for this
    process (False for a base state that a fold will advance)."""
    key = _memo_key(spark, family, name)
    _ARTIFACT_READY.discard(key)
    path = sidecar_path(spark, name)
    remove_sidecar_file(path)
    _ARTIFACT_SIDECARS.setdefault(family, set()).discard(path)
    try:
        mutate()
    except Exception:
        for t in tables:
            drop_bucketed_table(spark, t)
        raise
    _ARTIFACT_SIDECARS[family].add(write_sidecar(spark, name, payload))
    if memo:
        _ARTIFACT_READY.add(key)


def ensure(
    spark: SparkSession,
    family: str,
    name: str,
    tables: list[str],
    payload: Callable[[], dict],
    write: Callable[[], None],
) -> None:
    """Build-once artifact: memo hit → nothing; a matching sidecar
    over live tables → adopt; otherwise ``write`` the tables and seal
    them with the sidecar.  ``payload`` runs only on a memo miss (it
    may fire a row-count job)."""
    key = _memo_key(spark, family, name)
    if key in _ARTIFACT_READY:
        return
    expected = payload()
    if not _adopt(spark, family, name, tables, expected):
        rewrite(spark, family, name, tables, expected, write)


def _base_payload(payload: Callable[[], dict]) -> dict:
    return {**payload(), "state": "base"}


def roll(
    spark: SparkSession,
    family: str,
    name: str,
    tables: list[str],
    payload: Callable[[], dict],
    fold_rows: Callable[[], int],
    write_base: Callable[[], None],
    fold: Callable[[], None],
) -> None:
    """Base + fold artifact, three states per memo key: a ROLLED
    sidecar over live tables → adopt; a BASE sidecar → fold only;
    anything else → ``write_base`` (sealed as the base state), then
    fold.  The fold runs unsealed and the rolled sidecar (the payload
    plus ``state`` and the fold block's ``fold_rows``) is written
    last."""
    key = _memo_key(spark, family, name)
    if key in _ARTIFACT_READY:
        return
    base = _base_payload(payload)
    rolled = {**base, "state": "rolled", "fold_rows": fold_rows()}
    if _adopt(spark, family, name, tables, rolled):
        return
    if not sidecar_adoptable(spark, name, base, tables):
        rewrite(spark, family, name, tables, base, write_base, memo=False)
    rewrite(spark, family, name, tables, rolled, fold)


def restore_base(
    spark: SparkSession,
    family: str,
    name: str,
    tables: list[str],
    payload: Callable[[], dict],
    write_base: Callable[[], None],
) -> None:
    """Bench/test device: force a :func:`roll` artifact back to its
    pre-fold BASE state, so the next roll performs the fold alone (a
    fold is a one-way append).  Production never calls this."""
    base = _base_payload(payload)
    rewrite(spark, family, name, tables, base, write_base, memo=False)


def clear(family: str) -> None:
    """Forget ``family``'s memo and remove every sidecar this process
    built or adopted for it, so the next call runs the cold path."""
    for key in [k for k in _ARTIFACT_READY if k[0] == family]:
        _ARTIFACT_READY.discard(key)
    for path in _ARTIFACT_SIDECARS.pop(family, set()):
        remove_sidecar_file(path)


def _ensure_bucketed_orders_customer(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    from pyspark.sql import functions as F  # noqa: F401

    from smile_spark.tables import table

    t_orders = bucket_table_name("bkt_orders", sf_dir)
    t_customer = bucket_table_name("bkt_customer", sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key in _BUCKETED_READY:
        return t_orders, t_customer
    for tbl in (t_orders, t_customer):
        drop_bucketed_table(spark, tbl)
    write_bucketed(
        table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice", "o_orderstatus"
        ),
        t_orders,
        "o_custkey",
        n_buckets=BUCKETED_N,
    )
    write_bucketed(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        t_customer,
        "o_custkey",
        n_buckets=BUCKETED_N,
    )
    _BUCKETED_READY.add(key)
    return t_orders, t_customer


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> "DataFrame":
    """Revenue per market segment through a CO-LOCATED join: both
    sides persisted bucketed (and sorted) by the join key, so the join
    reads pre-partitioned buckets with NO exchange on either side —
    the Spark-native analogue of the reference's CSR locality, paid
    once at write time (tests assert the plan has no hash exchange
    before the join).

    At 100 TB this is THE big-big join strategy when one side can't
    broadcast: bucket both fact tables by the shared key at ingest and
    every subsequent join/aggregate on that key skips its shuffle."""
    from pyspark.sql import functions as F

    from smile_spark.functions.numeric import dsum

    t_orders, t_customer = _ensure_bucketed_orders_customer(spark, sf_dir)
    o = read_bucketed(spark, t_orders)
    c = read_bucketed(spark, t_customer)
    return (
        o.join(c, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "revenue"),
        )
    )


BUCKETED_JOIN_REVENUE_SQL = (
    "SELECT c.c_mktsegment, COUNT(*) AS n_orders,"
    " CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)"
    "  AS revenue"
    " FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey"
    " GROUP BY c.c_mktsegment"
)
