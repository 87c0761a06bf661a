"""The benchmark's workloads: what each one runs, and how its outputs
are checked.

Every workload is closed-loop with one client: an op starts when the
previous one has returned. A pass runs every op of the workload once;
the seed fixes the op order of each pass and, for
``census_versioned_load``, which keys a vintage revises or adds.

Ops call the program only through its public functions
(``REGISTRY[name].spark``, ``operators.validate``, ``plans.config``,
``store.eav``, ``store.scd2``, ``store.wap``, ``store.staging``,
``streaming.stream``); each such call goes through ``Tracer.call`` so a
traced run can attribute Spark's work to the layer that asked for it.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CENSUS_CONFIG = """
source_url: "census://{{ year }}/pl"
columns:
  - {source: GEO_ID, target: geo_path, type: str, kind: identifier}
  - {source: POP, target: total_pop, type: int, kind: count}
  - {source: AREA, target: land_area, type: float}
  - {source: STATUS, target: status_code, type: str}
  - {source: URBAN, target: is_urban, type: bool}
"""
CENSUS_VALUES = {"total_pop": "int", "land_area": "float", "status_code": "str", "is_urban": "bool"}
CENSUS_KEYS = ["geo_path", "col_path"]
REVISED_SHARE = 0.10
NEW_SHARE = 0.05
NEW_KEY_OFFSET = 1_000_000_000


@dataclass
class Ctx:
    """What an op needs: the session, the tracer, the inputs, and a
    scratch area private to this run."""

    spark: object
    tracer: object
    data_dir: str
    run_dir: str
    seed: int
    state: dict = field(default_factory=dict)


@dataclass
class OpResult:
    ok: bool
    detail: str = ""


# ---------------------------------------------------------------- registry ops

def _clear(spark) -> None:
    """Drop cached plans and pinned blocks an op left behind, so no
    op reuses another's work (the same discipline as bench.py)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def run_registry_op(ctx: Ctx, name: str):
    """Build the query's DataFrame, then execute it with a ``noop``
    write. Returns the DataFrame, for the check."""
    from gerrydb_etl_spark.queries import REGISTRY

    spec = REGISTRY[name]
    df = ctx.tracer.call("queries.build", spec.spark, ctx.spark, ctx.data_dir)
    ctx.tracer.call("queries.exec", df.write.format("noop").mode("overwrite").save)
    return df


def oracle_digests(data_dir: str, tables: tuple[str, ...], names: list[str]) -> dict[str, tuple]:
    """DuckDB digest of each op's oracle SQL over the same tables."""
    import duckdb

    from gerrydb_etl_spark.queries import REGISTRY
    from tests.oracle_compare import duck_digest

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    try:
        return {n: duck_digest(con, REGISTRY[n].oracle) for n in names}
    finally:
        con.close()


def check_rows(expected: tuple, df) -> OpResult:
    """Collect ``df`` again and compare its order-insensitive digest
    with the oracle's."""
    from tests.oracle_compare import table_digest

    got = table_digest(df.columns, [tuple(r) for r in df.collect()])
    if got == expected:
        return OpResult(True)
    return OpResult(False, f"digest {got[:2]} != oracle {expected[:2]}")


# ---------------------------------------------------------------- census

def census_vintages(data_dir: str, out_dir: str, seed: int) -> dict:
    """Write the raw payloads of the three vintages (every value a
    string, as a census API returns it) and return the closed-form
    expectations the checks use. Vintage 2 revises ``land_area`` of
    ~10% of keys and adds ~5% new keys; vintage 3 is vintage 2 again."""
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
    rng = np.random.default_rng(seed)
    n = len(orders)
    revised = rng.random(n) < REVISED_SHARE
    new = rng.random(n) < NEW_SHARE
    keys = orders["o_orderkey"].to_numpy()

    def payload(key, area, rows):
        return pa.table({
            "GEO_ID": [f"g{k}" for k in key],
            "POP": orders["o_custkey"].to_numpy()[rows].astype(str),
            "AREA": [repr(float(a)) for a in area],
            "STATUS": orders["o_orderstatus"].to_numpy()[rows],
            "URBAN": np.where(orders["o_orderpriority"].to_numpy()[rows] == "1-URGENT", "true", "false"),
        })

    price = orders["o_totalprice"].to_numpy()
    all_rows = np.arange(n)
    v1 = payload(keys, price, all_rows)
    v2 = pa.concat_tables([
        payload(keys, np.where(revised, price + 1.25, price), all_rows),
        payload(keys[new] + NEW_KEY_OFFSET, price[new], np.flatnonzero(new)),
    ])
    paths = {}
    for v, tbl in ((1, v1), (2, v2), (3, v2)):
        paths[v] = os.path.join(out_dir, f"vintage{v}.parquet")
        pq.write_table(tbl, paths[v])
    n_rev, n_new, width = int(revised.sum()), int(new.sum()), len(CENSUS_VALUES)
    rows_v1 = width * n
    rows_v2 = rows_v1 + n_rev + width * n_new
    return {
        "paths": paths,
        "latest": v2.to_pandas(),
        "incoming": {1: width * n, 2: width * (n + n_new), 3: width * (n + n_new)},
        "rows": {1: rows_v1, 2: rows_v2, 3: rows_v2},
    }


def _census_schema():
    from pyspark.sql import types as T

    return T.StructType([T.StructField(c, T.StringType()) for c in ("GEO_ID", "POP", "AREA", "STATUS", "URBAN")])


def run_vintage(ctx: Ctx, v: int) -> None:
    """One vintage of the paper's load lifecycle: validate -> config
    projection -> EAV melt -> SCD-2 merge onto the published state ->
    write-audit-publish -> current-view read-back."""
    from gerrydb_etl_spark.operators.validate import (
        collision_ceiling,
        fail_if_nonempty,
        strict_cast_violations,
    )
    from gerrydb_etl_spark.plans.config import apply_config, render_config
    from gerrydb_etl_spark.store.eav import melt_to_eav
    from gerrydb_etl_spark.store.scd2 import (
        assert_version_invariants,
        current_view,
        empty_versioned,
        scd2_merge,
    )

    spark, census = ctx.spark, ctx.state["census"]
    table = ctx.state["table"]
    raw = spark.read.schema(_census_schema()).parquet(census["paths"][v])

    def gates():
        fail_if_nonempty(
            strict_cast_violations(raw, ["GEO_ID"], {"POP": "int", "AREA": "float", "URBAN": "bool"}),
            "untyped census values",
        )
        fail_if_nonempty(collision_ceiling(raw, ["GEO_ID"], ceiling=1), "duplicate geo ids")

    ctx.tracer.call("operators.validate", gates)
    cfg = ctx.tracer.call("plans.config", render_config, CENSUS_CONFIG, year=str(2000 + 10 * v))
    projected = ctx.tracer.call("plans.config", apply_config, raw, cfg)
    long_df = ctx.tracer.call("store.eav", melt_to_eav, projected, ["geo_path"], CENSUS_VALUES)
    current = ctx.tracer.call("store.wap.read", table.read) if v > 1 else empty_versioned(long_df)
    merged = ctx.tracer.call("store.scd2", scd2_merge, current, long_df, CENSUS_KEYS, version=v)

    def audit(staged):
        with ctx.tracer.span("assert_version_invariants", "store.wap.audit"):
            assert_version_invariants(staged, CENSUS_KEYS)

    version = ctx.tracer.call("store.wap.write", table.write, merged, audits=[audit], notes=f"census vintage {v}")
    published = ctx.tracer.call("store.wap.read", table.read)
    ctx.tracer.call("store.wap.read", current_view(published).write.format("noop").mode("overwrite").save)
    ctx.state["versions"].append((v, version))


def check_vintage(ctx: Ctx, v: int) -> OpResult:
    """The published row count, against its closed form."""
    rows = ctx.state["table"].meta()["rows"]
    published_v, version = ctx.state["versions"][-1]
    ctx.state["versions"][-1] = (published_v, version, rows)
    want = ctx.state["census"]["rows"][v]
    if rows != want:
        return OpResult(False, f"vintage {v}: {rows} rows published, expected {want}")
    return OpResult(True)


def check_census_state(root: str, version: str, census: dict) -> OpResult:
    """Closed-form checks on a published state, read with pyarrow (not
    Spark): one open version per key, no overlapping intervals,
    current values equal to the latest vintage, and nothing inserted
    by the identical reload."""
    df = pq.read_table(os.path.join(root, version)).to_pandas()
    open_rows = df[df["valid_to"].isna()]
    if open_rows.duplicated(CENSUS_KEYS).any():
        return OpResult(False, "more than one open version for a key")
    if (df["valid_from"] == 3).any():
        return OpResult(False, "the identical reload inserted rows")
    hist = df.sort_values(CENSUS_KEYS + ["valid_from"])
    nxt = hist.groupby(CENSUS_KEYS)["valid_from"].shift(-1)
    closed = nxt.notna()
    if (hist["valid_to"][closed].isna() | (hist["valid_to"][closed] > nxt[closed])).any():
        return OpResult(False, "overlapping version intervals")
    latest = census["latest"]
    want = {
        "total_pop": dict(zip(latest["GEO_ID"], latest["POP"].astype("int64"))),
        "land_area": dict(zip(latest["GEO_ID"], latest["AREA"].astype("float64"))),
        "status_code": dict(zip(latest["GEO_ID"], latest["STATUS"])),
        "is_urban": dict(zip(latest["GEO_ID"], latest["URBAN"] == "true")),
    }
    column = {"total_pop": "val_int", "land_area": "val_float", "status_code": "val_str", "is_urban": "val_bool"}
    if len(open_rows) != len(CENSUS_VALUES) * len(latest):
        return OpResult(False, f"{len(open_rows)} open rows, expected {len(CENSUS_VALUES) * len(latest)}")
    for col_path, rows in open_rows.groupby("col_path"):
        expected = want[col_path]
        got = rows[column[col_path]].tolist()
        if any(expected.get(k) != g for k, g in zip(rows["geo_path"], got)):
            return OpResult(False, f"current {col_path} differs from the latest vintage")
    return OpResult(True)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


# ---------------------------------------------------------------- workloads

@dataclass
class Workload:
    name: str
    inputs: tuple[str, ...]
    ops: tuple[str, ...]

    def order(self, seed: int, pass_no: int) -> list[str]:
        ops = list(self.ops)
        random.Random(seed * 1000 + pass_no).shuffle(ops)
        return ops

    def prepare(self, ctx: Ctx) -> None:
        """Untimed: inputs derived from the seed, oracle digests."""
        ctx.state["oracle"] = oracle_digests(ctx.data_dir, self.inputs, list(self.ops))

    def warm_up(self, ctx: Ctx) -> None:
        """Timed as part of ``setup_s``: engine paths this workload's
        ops need that a plain query does not warm."""

    def setup(self, ctx: Ctx) -> None:
        """Timed as part of ``setup_s``: this workload's staging."""

    def begin_pass(self, ctx: Ctx, pass_no: int) -> None:
        pass

    def run_op(self, ctx: Ctx, name: str):
        """Timed: one op. Returns what ``check`` needs."""
        return run_registry_op(ctx, name)

    def check(self, ctx: Ctx, name: str, out) -> OpResult:
        """Untimed: the op's output against its expectation."""
        return check_rows(ctx.state["oracle"][name], out)

    def after_op(self, ctx: Ctx) -> None:
        _clear(ctx.spark)

    def end_pass(self, ctx: Ctx, pass_no: int) -> OpResult:
        return OpResult(True)

    def stored_bytes(self, ctx: Ctx) -> int:
        """Bytes the program leaves on disk for this workload."""
        return dir_bytes(os.path.join(ctx.run_dir, "warehouse"))


class Census(Workload):
    def order(self, seed: int, pass_no: int) -> list[str]:
        return list(self.ops)

    def prepare(self, ctx: Ctx) -> None:
        ctx.state["census"] = census_vintages(ctx.data_dir, ctx.run_dir, ctx.seed)

    def begin_pass(self, ctx: Ctx, pass_no: int) -> None:
        from gerrydb_etl_spark.store.wap import VersionedTable

        root = os.path.join(ctx.run_dir, "census", f"pass{pass_no}")
        ctx.state["root"] = root
        ctx.state["versions"] = []
        ctx.state["table"] = VersionedTable(ctx.spark, root)

    def run_op(self, ctx: Ctx, name: str):
        run_vintage(ctx, self.ops.index(name) + 1)

    def check(self, ctx: Ctx, name: str, out) -> OpResult:
        return check_vintage(ctx, self.ops.index(name) + 1)

    def after_op(self, ctx: Ctx) -> None:
        pass

    def end_pass(self, ctx: Ctx, pass_no: int) -> OpResult:
        root, versions = ctx.state["root"], ctx.state["versions"]
        if len(versions) != len(self.ops) or any(len(x) != 3 for x in versions):
            return OpResult(False, "pass did not publish and count every vintage")
        census = ctx.state["census"]
        result = check_census_state(root, versions[-1][1], census)
        ctx.state.setdefault("table_bytes", []).append(dir_bytes(root))
        ctx.state["pass_info"] = {
            "table_bytes": dir_bytes(root),
            "live_rows": len(CENSUS_VALUES) * len(census["latest"]),
            "versions": [
                {"vintage": v, "rows": rows, "incoming": census["incoming"][v],
                 "bytes": dir_bytes(os.path.join(root, name))}
                for v, name, rows in versions
            ],
        }
        shutil.rmtree(root, ignore_errors=True)
        return result

    def stored_bytes(self, ctx: Ctx) -> int:
        sizes = sorted(ctx.state.get("table_bytes", [0]))
        return super().stored_bytes(ctx) + sizes[len(sizes) // 2]


class Curation(Workload):
    def warm_up(self, ctx: Ctx) -> None:
        """One tiny availableNow stream with a foreachBatch sink, so the
        first stream op is not charged the streaming engine's start."""
        src = os.path.join(ctx.run_dir, "warm_stream")
        os.makedirs(src)
        os.symlink(os.path.join(ctx.data_dir, "documents.parquet"), os.path.join(src, "documents.parquet"))
        spark = ctx.spark
        query = (
            spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
            .writeStream.foreachBatch(lambda df, _: df.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", os.path.join(ctx.run_dir, "warm_stream_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()

    def setup(self, ctx: Ctx) -> None:
        for fn, args in curation_fixtures(ctx):
            ctx.tracer.call("store.staging", fn, *args)


def curation_fixtures(ctx: Ctx) -> list[tuple]:
    """The staged fixtures the curation ops read, with the arguments
    their consumers use."""
    from gerrydb_etl_spark.operators.dedup import MINHASH_BANDS, MINHASH_HASHES, MINHASH_N
    from gerrydb_etl_spark.store import staging as st
    from gerrydb_etl_spark.streaming.stream import ensure_staged_epoch_dir

    sp, d = ctx.spark, ctx.data_dir
    return [
        (st.ensure_staged_shingles, (sp, d, 3)),
        (st.ensure_staged_minhash_bands, (sp, d, MINHASH_N, MINHASH_HASHES, MINHASH_BANDS)),
        (st.ensure_staged_dhash, (sp, d)),
        (ensure_staged_epoch_dir, (sp, d, "documents", "doc_id", "docs", 2, 1)),
    ]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Census(
            "census_versioned_load",
            ("orders",),
            ("vintage_1_first_load", "vintage_2_revision", "vintage_3_identical_reload"),
        ),
        Curation(
            "curation_dedup",
            ("documents",),
            (
                "minhash_near_dup", "image_dhash_neardup", "media_strict_decode",
                "docs_stream_dedup_ingest",
            ),
        ),
    )
}
